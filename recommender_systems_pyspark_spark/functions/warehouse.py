"""Warehouse-maintenance operators (round 4): SCD2 dimension history,
CDC MERGE/upsert, time-range window frames, the salted-join skew fallback,
and Bloom-filter semi-join pruning.

The reference's storage layer is overwrite/append JDBC tables
(``utils/user.py:151-166``, ``utils/data_loader.py:144-146`` — append-only
ratings with a latest-per-key view, full-table overwrite for reloads).
These operators are the engine-grade generalizations a warehouse actually
runs on top of exactly that storage model: type-2 history instead of
lossy overwrite, keyed MERGE instead of blind append, trailing-window
reads instead of full-table rescans.

Scale notes (100 TB):
- SCD2 is one user-keyed window chain — a single hash shuffle on the
  entity key, then per-key incremental state (lag/lead/row_number share
  one partitioning; Catalyst plans one Exchange for the whole chain).
- MERGE is one key-partitioned join of snapshot × delta plus a union —
  the exact shape Delta/Iceberg MERGE compiles to. The delta side is
  typically ≪ snapshot, so AQE broadcasts it; no full-table rewrite of
  the snapshot's untouched partitions is modeled here (file-level
  skipping is the table format's job, not the plan's).
- The trailing 30-day frame is a RANGE window per customer: incremental
  sliding-frame state, never a per-customer sort of the whole history
  beyond the one partitioning shuffle.
- Salted join: see :mod:`..operators.skew` — this registers the fallback
  under the driver's hash gate so its row-multiplicity contract is
  certified, not just unit-tested.
- Bloom semi-prune: the probe side is filtered by a broadcast bitmap
  BEFORE the exact join, so at scale the shuffle/join only sees
  `|probe| × (selectivity + FP-rate)` rows. False positives are removed
  by the exact semi join; false negatives are impossible — which the
  oracle (a plain semi join) certifies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.skew import salted_join
from ..registry import exact_sum, query, sql_exact_sum
from ..session import scoped_conf
from ..sources import tables
from ..sources.sinks import rows_frame


# ---------------------------------------------------------------------------
# SCD2 history build
# ---------------------------------------------------------------------------

@query(
    "x_scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts AS valid_from
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER w AS valid_to,
           CAST(row_number() OVER w AS BIGINT) AS version,
           (lead(valid_from) OVER w IS NULL) AS is_current
    FROM changes
    -- event_type tiebreaker: an equal-ts different-type change pair per
    -- user would otherwise make version numbering tie-dependent on both
    -- engines (ADVICE r5) — valid_from alone is not a total order then.
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_type)
    """,
)
def x_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: treat each user's event
    stream as state observations and emit one validity interval per run
    of consecutive identical ``event_type`` — ``valid_from``/``valid_to``
    half-open intervals, a version counter, and an ``is_current`` flag on
    the open row.

    This is the history-preserving upgrade of the reference's
    overwrite-on-reload storage (``utils/data_loader.py:144-146``): a
    dimension reload under SCD2 appends closed intervals instead of
    destroying the previous state.

    One shuffle: lag (change detection), lead (interval close), and
    row_number (version) all share the ``user_id`` partitioning, so
    Catalyst plans a single Exchange for the whole chain. Ties on ``ts``
    are broken by the unique ``event_id``."""
    return scd2_history(tables(spark, sf_dir)["events"])


def scd2_history(ev: DataFrame) -> DataFrame:
    """The x_scd2_history plan as a reusable primitive (also feeds
    x_scd2_asof and x_scd2_event_enrich)."""
    w_scan = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w_scan))
        .where(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("user_id", "event_type", F.col("ts").alias("valid_from"))
    )
    # valid_from is unique per kept row *per user* except the rare
    # equal-ts different-type change pair — event_type as tiebreaker makes
    # the version/lead ordering a total order on both engines (ADVICE r5),
    # so version numbering and valid_to cannot flap on such fixtures.
    w_ver = Window.partitionBy("user_id").orderBy("valid_from", "event_type")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_ver).alias("valid_to"),
        F.row_number().over(w_ver).cast("long").alias("version"),
        F.lead("valid_from").over(w_ver).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# CDC MERGE (upsert + delete) onto a snapshot
# ---------------------------------------------------------------------------

_MERGE_NEW_PRICE = "CAST(CAST(o_totalprice AS DECIMAL(18,6)) + 100.00 AS DOUBLE)"


@query(
    "x_merge_upsert",
    oracle=f"""
    WITH deletes AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 100 = 7),
    updates AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             {_MERGE_NEW_PRICE} AS o_totalprice, o_orderdate
      FROM orders WHERE o_orderkey % 100 IN (11, 23)
    ),
    inserts AS (
      SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
             'N' AS o_orderstatus, CAST(1.0 AS DOUBLE) AS o_totalprice,
             o_orderdate
      FROM orders WHERE o_orderkey % 100 = 42
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM deletes)
      AND o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    UNION ALL SELECT * FROM updates
    UNION ALL SELECT * FROM inserts
    """,
)
def x_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (the engine-grade replacement for the
    reference's blind ``mode="append"`` writes, ``utils/user.py:162-168``):
    apply a CDC delta — deletes, keyed updates, inserts — onto the orders
    snapshot in one pass. The delta here is derived deterministically
    from the snapshot itself (key-residue classes) so the oracle can
    replay it exactly.

    Plan shape: snapshot LEFT ANTI (delete ∪ update keys) ⊎ updated rows
    ⊎ inserted rows — one key join (delta side is small → AQE broadcasts
    the anti build) plus a union of map-only branches. This is exactly
    what lakehouse MERGE compiles to before file-level pruning."""
    orders = tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    key = F.col("o_orderkey")
    deletes = orders.where(key % 100 == 7).select("o_orderkey")
    updates = orders.where((key % 100).isin(11, 23)).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.expr(_MERGE_NEW_PRICE).alias("o_totalprice"),
        "o_orderdate",
    )
    inserts = orders.where(key % 100 == 42).select(
        (key + 100000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        F.lit(1.0).cast("double").alias("o_totalprice"),
        "o_orderdate",
    )
    touched = deletes.union(updates.select("o_orderkey"))
    survivors = orders.join(touched, "o_orderkey", "left_anti")
    return survivors.unionByName(updates).unionByName(inserts)


# ---------------------------------------------------------------------------
# Time-range window frame (trailing 30-day per-customer aggregate)
# ---------------------------------------------------------------------------

@query(
    "x_range_frame_trailing",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS order_day
      FROM orders
    )
    SELECT o_orderkey, o_custkey, CAST(order_day AS INTEGER) AS order_day,
           CAST(COUNT(*) OVER w AS BIGINT) AS trailing_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE)
             AS trailing_sum
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY order_day
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    """,
)
def x_range_frame_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day per-customer order stats via a RANGE window frame —
    the time-based frame form (value-range peers) that the row-based
    moving average (w4) cannot express: each order sees every order of
    the same customer whose date falls within the preceding 30 days,
    regardless of how many rows that is.

    One customer-keyed shuffle; the frame is incremental sliding state
    (two pointers over the sorted per-key run), not a re-scan per row.
    Same-day orders are RANGE peers, so the result is insensitive to
    their relative order — no tiebreaker needed, which is what makes a
    total-order-free window hash-stable."""
    orders = tables(spark, sf_dir)["orders"]
    day = F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01")))
    o = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", day.alias("order_day")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("order_day")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "order_day",
        F.count("*").over(w).cast("long").alias("trailing_cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("trailing_sum"),
    )


# ---------------------------------------------------------------------------
# Salted join (skew fallback) under the hash gate
# ---------------------------------------------------------------------------

@query(
    "x_salted_join_revenue",
    oracle=f"""
    SELECT n_name,
           COUNT(*) AS n_orders,
           {sql_exact_sum('o_totalprice', 'revenue')}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def x_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation computed through :func:`..operators.skew.salted_join`
    (8 salt buckets) instead of a plain equi-join — certifying under the
    driver's hash gate that salting preserves exact join multiplicity.
    The oracle is the PLAIN join: salting must be invisible in the
    result.

    The salt spreads each hot customer key across 8 (key, salt) buckets
    on the fact side while the dim side replicates ×8 — the manual
    fallback for skew AQE can't re-plan (see skew.py's cost model). The
    dim here (customer ⋈ nation) is small, so the ×8 replication is
    bounded; at scale you'd salt only the keys a16_skew_profile flags."""
    t = tables(spark, sf_dir)
    dim = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("o_custkey"), "n_name")
    )
    fact = t["orders"].select("o_custkey", "o_totalprice")
    joined = salted_join(fact, dim, on="o_custkey", salt_buckets=8)
    return (
        joined.groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 20  # 1 Mi bits → 32 Ki 32-bit words; ~0.1% FP at 30k keys
_BLOOM_HASHES = 3


def _bloom_positions(key: Column) -> list[Column]:
    """k independent bit positions via seeded xxhash64 (JVM-side, no
    Python). pmod keeps positions non-negative."""
    return [
        F.pmod(F.xxhash64(F.lit(i), key), F.lit(_BLOOM_BITS)).cast("long")
        for i in range(_BLOOM_HASHES)
    ]


def bloom_prune(probe: DataFrame, probe_key: str, build_keys: DataFrame) -> DataFrame:
    """Filter ``probe`` down to rows whose key MIGHT be in ``build_keys``
    using a broadcast Bloom bitmap — no false negatives, bounded false
    positives (callers follow with an exact join).

    ``build_keys`` must be a single-column DataFrame of distinct keys.
    The bitmap is word-packed: ≤ ``_BLOOM_BITS/32`` rows of
    (word_index, 32-bit mask), built with one small aggregation and
    broadcast; the probe side then needs its k bits all present, checked
    via k broadcast hash joins that Catalyst pipelines into the scan
    stage — the probe table is never shuffled to be pruned."""
    build_col = F.col(build_keys.columns[0])
    positions = F.array(*_bloom_positions(build_col))
    # shiftleft's numBits is a Column here, so go through F.expr (the
    # PySpark wrapper only accepts a Python int for numBits).
    mask_of = lambda pos_col: F.expr(  # noqa: E731
        f"shiftleft(cast(1 as bigint), cast({pos_col} % 32 as int))"
    )
    bitmap = (
        build_keys.select(F.explode(positions).alias("pos"))
        .select(
            (F.col("pos") / 32).cast("long").alias("word"),
            mask_of("pos").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    # The bitmap subtree must stay BYTE-IDENTICAL across the k probes —
    # per-probe column renames would make each copy a distinct plan and
    # defeat Exchange/Broadcast reuse, re-aggregating the bitmap k+1
    # times. With identical subtrees Spark plans ONE build and k
    # ReusedExchange references.
    out = probe
    for i, pos in enumerate(_bloom_positions(F.col(probe_key))):
        p, m = f"__bp{i}", f"__bm{i}"
        out = (
            out.withColumn(p, pos)
            .withColumn(m, mask_of(p))
            .join(
                F.broadcast(bitmap),
                (F.col(p) / 32).cast("long") == F.col("word"),
                "left",
            )
            .where(F.expr(f"(coalesce(bits, cast(0 as bigint)) & {m}) = {m}"))
            .drop(p, m, "word", "bits")
        )
    return out


@query(
    "x_bloom_semi_prune",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           {sql_exact_sum('l_quantity', 'sum_qty')}
    FROM lineitem
    WHERE l_orderkey IN
          (SELECT o_orderkey FROM orders WHERE o_totalprice >= 400000)
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def x_bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join of lineitem against high-value orders with a Bloom-bitmap
    pre-filter on the probe side. The bitmap (32k words) is built from
    the ~20% of orders above the price gate and broadcast; lineitem rows
    failing any of the 3 bit probes are dropped BEFORE the exact
    left-semi join removes the Bloom's false positives.

    The oracle is the plain semi join — certifying the no-false-negative
    contract end-to-end. At 100 TB this is the pattern that keeps a
    selective semi join from shuffling the full probe table: the
    surviving fraction is selectivity + FP-rate (~0.1% here), and both
    the bitmap build (one tiny agg) and the probes (broadcast joins
    pipelined into the scan) are map-side."""
    t = tables(spark, sf_dir)
    build = (
        t["orders"]
        .where(F.col("o_totalprice") >= 400000)
        .select("o_orderkey")
        .distinct()
    )
    li = t["lineitem"].select("l_orderkey", "l_returnflag", "l_quantity")
    pruned = bloom_prune(li, "l_orderkey", build)
    exact = pruned.join(
        build.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", "left_semi"
    )
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            exact_sum(F.col("l_quantity"), "sum_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Z-order clustering key (multi-dimensional data skipping)
# ---------------------------------------------------------------------------

_Z_BITS = 16


def _zorder_sql(x: str, y: str, bits: int = _Z_BITS) -> str:
    """Bit-interleave SQL for a 2-D Z-value — the SAME expression string
    runs in Spark SQL and DuckDB (only `&`, `>>`, `<<`, `+` on BIGINT),
    so the oracle replays it verbatim. bits=16 → a 32-bit key."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@query(
    "x_zorder_key",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS order_day
      FROM orders
    )
    SELECT o_orderkey, o_custkey, CAST(order_day AS INTEGER) AS order_day,
           CAST({_zorder_sql('o_custkey', 'order_day')} AS BIGINT) AS zval
    FROM o
    """,
)
def x_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order day): the
    16+16-bit interleave that multi-dimensional data skipping sorts by.
    Writing the fact table range-partitioned by ``zval`` gives parquet
    row groups whose min/max stats are tight in BOTH dimensions, so
    either predicate prunes at the scan — the layout trick behind
    lakehouse OPTIMIZE ZORDER BY, expressed as one codegen'd integer
    expression (no UDF, no shuffle; the ordering itself is the writer's
    one range exchange). The oracle runs the identical expression."""
    orders = tables(spark, sf_dir)["orders"]
    day = F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01")))
    return orders.select(
        "o_orderkey",
        "o_custkey",
        day.alias("order_day"),
    ).withColumn(
        "zval", F.expr(_zorder_sql("o_custkey", "order_day")).cast("long")
    )


# ---------------------------------------------------------------------------
# Pareto frontier (2-D skyline) per group
# ---------------------------------------------------------------------------

@query(
    "x_pareto_frontier",
    oracle="""
    WITH o AS (
      SELECT c_mktsegment AS segment, o_orderkey, o_orderdate, o_totalprice,
             MAX(o_totalprice) OVER (
               PARTITION BY c_mktsegment
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_before
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT segment, o_orderkey, o_orderdate, o_totalprice
    FROM o
    WHERE best_before IS NULL OR o_totalprice > best_before
    ORDER BY segment, o_orderdate, o_orderkey
    """,
)
def x_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline per market segment: orders not dominated by any
    earlier-or-equal-date order with higher-or-equal price — the Pareto
    frontier of (early date, high price). The classic quadratic
    dominance join collapses to ONE windowed pass: sort by date inside
    each segment and keep rows beating the running price maximum
    (strictly — equal-price later orders are dominated). (ts, key)
    ordering makes ties deterministic. One segment-keyed shuffle,
    incremental running state — the skyline at any scale."""
    t = tables(spark, sf_dir)
    o = t["orders"].join(
        F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    best = F.max("o_totalprice").over(w)
    return (
        o.select(
            F.col("c_mktsegment").alias("segment"),
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            best.alias("best_before"),
        )
        .where(F.col("best_before").isNull() | (F.col("o_totalprice") > F.col("best_before")))
        .drop("best_before")
        .orderBy("segment", "o_orderdate", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# As-of read over SCD2 history (bitemporal valid-time travel)
# ---------------------------------------------------------------------------

_SCD2_ASOF_TS = "2024-01-20 00:00:00"


@query(
    "x_scd2_asof",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts AS valid_from
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ), hist AS (
      SELECT user_id, event_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from, event_type)
               AS valid_to
      FROM changes
    )
    SELECT user_id, event_type AS state_at_ts, valid_from
    FROM hist
    WHERE valid_from <= TIMESTAMP '{_SCD2_ASOF_TS}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SCD2_ASOF_TS}')
    ORDER BY user_id
    """,
)
def x_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Valid-time travel over the SCD2 history: every user's state AS OF
    {ts} — the half-open interval containing the probe instant. Composes
    :func:`x_scd2_history`'s output with one map-side interval filter
    (each user has exactly one covering interval by the tiling property
    test_warehouse_ops proves), so the time-travel read costs the
    history build plus a filter — no extra shuffle."""
    probe = F.lit(_SCD2_ASOF_TS).cast("timestamp_ntz")
    hist = x_scd2_history(spark, sf_dir)
    return (
        hist.where(
            (F.col("valid_from") <= probe)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > probe))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state_at_ts"),
            "valid_from",
        )
        .orderBy("user_id")
    )


x_scd2_asof.__doc__ = x_scd2_asof.__doc__.format(ts=_SCD2_ASOF_TS)


@query(
    "x_zonemap_prune",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS r,
             COUNT(*) OVER () AS n
      FROM orders
    ),
    layout AS (
      SELECT o_orderkey, o_orderdate,
             ((r - 1) * 64) // n AS f_clustered,
             o_orderkey % 64 AS f_hashed
      FROM ranked
    ),
    zc AS (
      SELECT f_clustered AS f, MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi,
             COUNT(*) AS rows_in_file
      FROM layout GROUP BY 1
    ),
    zh AS (
      SELECT f_hashed AS f, MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi,
             COUNT(*) AS rows_in_file
      FROM layout GROUP BY 1
    ),
    exact AS (
      SELECT COUNT(*) AS exact_rows FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-08-01 00:00:00'
    ),
    sc AS (
      SELECT COUNT(*) AS files_scanned,
             CAST(SUM(CAST(rows_in_file AS DECIMAL(18,0))) AS BIGINT)
               AS rows_scanned
      FROM zc
      WHERE hi >= TIMESTAMP '1997-07-01 00:00:00'
        AND lo <  TIMESTAMP '1997-08-01 00:00:00'
    ),
    sh AS (
      SELECT COUNT(*) AS files_scanned,
             CAST(SUM(CAST(rows_in_file AS DECIMAL(18,0))) AS BIGINT)
               AS rows_scanned
      FROM zh
      WHERE hi >= TIMESTAMP '1997-07-01 00:00:00'
        AND lo <  TIMESTAMP '1997-08-01 00:00:00'
    )
    SELECT 64 AS n_files,
           sc.files_scanned AS files_scanned_clustered,
           sh.files_scanned AS files_scanned_hashed,
           exact.exact_rows,
           CAST(sc.rows_scanned AS DOUBLE) / CAST(exact.exact_rows AS DOUBLE)
             AS amplification_clustered,
           CAST(sh.rows_scanned AS DOUBLE) / CAST(exact.exact_rows AS DOUBLE)
             AS amplification_hashed
    FROM sc, sh, exact
    """,
)
def x_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max) data-skipping simulation — the
    quantitative WHY behind x_zorder_key: the same orders split into 64
    files under two layouts, date-CLUSTERED (files = contiguous ranks of
    the date sort, via the distributed two-phase global row_number) vs
    key-HASHED (o_orderkey % 64), then a one-month predicate is planned
    against each layout's zone maps. Clustered layout scans ~⌈1/48th⌉ of
    the files; hashed scans all 64 (every file spans the full date range)
    — the scan-amplification columns put numbers on it. This is the
    planner arithmetic behind parquet row-group pruning / lakehouse
    OPTIMIZE: zone-map state is 2 values per file per column, built in
    one aggregate. All-integer comparisons; the two amplification ratios
    are the only doubles."""
    from ..operators.ranking import with_global_row_number

    o = tables(spark, sf_dir)["orders"].select("o_orderkey", "o_orderdate")
    ranked, n = with_global_row_number(
        o, [F.col("o_orderdate"), F.col("o_orderkey")], alias="r"
    )
    layout = ranked.select(
        "o_orderkey",
        "o_orderdate",
        F.expr(f"((r - 1) * 64) div {n}").alias("f_clustered"),
        (F.col("o_orderkey") % 64).alias("f_hashed"),
    )
    lo_ts = F.lit("1997-07-01 00:00:00").cast("timestamp_ntz")
    hi_ts = F.lit("1997-08-01 00:00:00").cast("timestamp_ntz")

    def zone_stats(col: str) -> DataFrame:
        return layout.groupBy(F.col(col).alias("f")).agg(
            F.min("o_orderdate").alias("lo"),
            F.max("o_orderdate").alias("hi"),
            F.count("*").alias("rows_in_file"),
        )

    def scanned(z: DataFrame, fs: str, rs: str) -> DataFrame:
        return z.where((F.col("hi") >= lo_ts) & (F.col("lo") < hi_ts)).agg(
            F.count("*").alias(fs),
            F.sum(F.col("rows_in_file").cast("decimal(18,0)"))
            .cast("bigint")
            .alias(rs),
        )

    sc = scanned(zone_stats("f_clustered"), "files_scanned_clustered", "rs_c")
    sh = scanned(zone_stats("f_hashed"), "files_scanned_hashed", "rs_h")
    exact = o.where(
        (F.col("o_orderdate") >= lo_ts) & (F.col("o_orderdate") < hi_ts)
    ).agg(F.count("*").alias("exact_rows"))
    return (
        sc.crossJoin(F.broadcast(sh))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(64).alias("n_files"),
            "files_scanned_clustered",
            "files_scanned_hashed",
            "exact_rows",
            (
                F.col("rs_c").cast("double") / F.col("exact_rows").cast("double")
            ).alias("amplification_clustered"),
            (
                F.col("rs_h").cast("double") / F.col("exact_rows").cast("double")
            ).alias("amplification_hashed"),
        )
    )


@query(
    "x_scd2_event_enrich",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts AS valid_from
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ), hist AS (
      SELECT user_id, event_type AS state_type, valid_from,
             lead(valid_from) OVER w AS valid_to,
             CAST(row_number() OVER w AS BIGINT) AS state_version
      FROM changes
      WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_type)
    )
    SELECT p.event_id, p.user_id, p.ts,
           h.state_type, h.state_version
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    JOIN hist h
      ON p.user_id = h.user_id
     AND h.valid_from <= p.ts
     AND (h.valid_to IS NULL OR p.ts < h.valid_to)
    ORDER BY p.event_id
    """,
)
def x_scd2_event_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal fact enrichment: every purchase joined to the SCD2
    dimension VERSION that was valid at the purchase's own timestamp —
    the point-in-time-correct join a plain dimension join silently gets
    wrong (it would stamp facts with today's attributes). Composes two
    certified primitives: the scd2_history build and the user-keyed
    interval join (equi join on user with the half-open validity range as
    a residual predicate — the s6 shape, AQE-skew-safe; intervals
    partition each user's timeline, so exactly ONE version matches per
    fact, which the pytest asserts). At warehouse scale the history side
    is dimension-sized, orders of magnitude under the fact side, and both
    shuffles key on user_id."""
    ev = tables(spark, sf_dir)["events"]
    hist = scd2_history(ev).select(
        F.col("user_id").alias("h_user"),
        F.col("event_type").alias("state_type"),
        "valid_from",
        "valid_to",
        F.col("version").alias("state_version"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        p.join(
            hist,
            (F.col("user_id") == F.col("h_user"))
            & (F.col("valid_from") <= F.col("ts"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        )
        .select("event_id", "user_id", "ts", "state_type", "state_version")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Bucketed-storage co-located join (VERDICT r6 #5)
# ---------------------------------------------------------------------------

_BJ_BUCKETS = 8


@query(
    "x_bucketed_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           {sql_exact_sum('l.l_quantity', 'sum_qty')}
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def x_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zero-Exchange co-bucketed fact ⋈ fact join, CERTIFIED: orders
    and lineitem are landed as catalog tables bucketed (and bucket-sorted)
    on the order key (`sources/bucketing.py:write_bucketed` — the
    write-once shuffle), then joined and aggregated per priority. The
    oracle replays the same join over the flat parquet, proving bucketing
    is pure layout — identical values, different (cheaper) plan.

    The plan claim is asserted IN the query: after forcing the shuffle
    path (no broadcast), the executed join plan must contain no Exchange
    on either side — a regression to re-shuffling turns this into a
    driver-visible error row, not a silent slowdown. (The companion
    pytest `test_bucketed_join_has_no_shuffle` additionally pins
    SortMergeJoin + `Bucketed: true` scans.)

    Scale: at 100 TB this is THE recurring-join story — two full-table
    shuffles per orders ⋈ lineitem query amortized to zero by one
    bucketed write; bucket count scales so table/n_buckets stays a
    128-512 MB task input. Reference parity: the reference re-joins
    ratings x movies through Postgres on every Streamlit interaction
    (app.py query path) with no layout reuse at all."""
    from ..sources import tables
    from ..sources.bucketing import purge_table, write_bucketed

    t = tables(spark, sf_dir)
    try:
        write_bucketed(
            t["orders"].select("o_orderkey", "o_orderpriority"),
            "xbj_orders", "o_orderkey", _BJ_BUCKETS,
        )
        write_bucketed(
            t["lineitem"].select(
                F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
            ),
            "xbj_lineitem", "o_orderkey", _BJ_BUCKETS,
        )
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            j = spark.table("xbj_orders").join(spark.table("xbj_lineitem"), "o_orderkey")
            plan = j._jdf.queryExecution().executedPlan().toString()
            if "Exchange" in plan:
                raise AssertionError(
                    f"bucketed join re-shuffles — layout regression:\n{plan[:1200]}"
                )
            agg = (
                j.groupBy("o_orderpriority")
                .agg(
                    F.countDistinct("o_orderkey").alias("n_orders"),
                    exact_sum(F.col("l_quantity"), "sum_qty"),
                )
                .orderBy("o_orderpriority")
            )
            # The result is one row per order priority (5 at any sf) — eager,
            # bounded materialization so the finally: can drop the catalog
            # tables WITHOUT invalidating the returned (otherwise-lazy) frame.
            # Leaving xbj_* behind made the query green only once per checkout
            # (LOCATION_ALREADY_EXISTS on every later run — VERDICT r7 #3).
            return rows_frame(spark, agg.collect(), agg.schema)
    finally:
        purge_table(spark, "xbj_orders")
        purge_table(spark, "xbj_lineitem")


# ---------------------------------------------------------------------------
# Snapshot time-travel diff (round 8)
# ---------------------------------------------------------------------------

_SNAP_CUTOFF = "2000-01-01"


@query(
    "x_snapshot_diff",
    oracle=f"""
    WITH v1 AS (
      SELECT o_custkey, COUNT(*) AS n,
             {sql_exact_sum('o_totalprice', 'total')}
      FROM orders WHERE o_orderdate < TIMESTAMP '{_SNAP_CUTOFF}'
      GROUP BY 1
    ),
    v2 AS (
      SELECT o_custkey, COUNT(*) AS n,
             {sql_exact_sum('o_totalprice', 'total')}
      FROM orders GROUP BY 1
    )
    SELECT COALESCE(v2.o_custkey, v1.o_custkey) AS custkey,
           v1.n AS n_old, v2.n AS n_new,
           v1.total AS total_old, v2.total AS total_new,
           CASE WHEN v1.o_custkey IS NULL THEN 'added'
                WHEN v2.n <> v1.n OR v2.total <> v1.total THEN 'changed'
                ELSE 'unchanged' END AS change_type
    FROM v1 FULL JOIN v2 ON v1.o_custkey = v2.o_custkey
    ORDER BY custkey
    """,
)
def x_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel snapshot diff — the audit a lakehouse runs between two
    published versions of a serving table: version 1 (per-customer order
    counts/revenue as of {cutoff}) and version 2 (after the later orders
    load) are WRITTEN to and READ BACK from the versioned snapshot store
    (``sources/versioned.py`` time travel: ``read_snapshot(version=1)``
    vs the published head), then full-outer diffed per key into
    added / changed / unchanged verdicts. The query certifies the
    store's version isolation INSIDE the oracle gate: the oracle computes
    both versions straight from the raw facts, so any cross-version
    contamination in the store (v2 write bleeding into a v1 read, a
    non-atomic publish) breaks the hash. Customers never disappear from
    an append-only fact table, so 'removed' cannot occur here (the CASE
    still orders its arms to surface it as 'added' asymmetry if it did).

    Scale shape: two scans of the fact table (the v1 predicate is pushed
    to parquet), one uniform-key aggregate each, snapshots written once
    per version (range-free parquet), one key-equi full outer join of
    two |customers|-sized frames. Doubles (exact decimal sums) and longs
    round-trip parquet bit-exactly, so the store adds nothing to the
    comparison surface."""
    import tempfile

    from ..registry import ts_ntz
    from ..sources import tables
    from ..sources.versioned import read_snapshot, write_snapshot

    orders = tables(spark, sf_dir)["orders"]

    def per_customer(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n"), exact_sum(F.col("o_totalprice"), "total")
        )

    with tempfile.TemporaryDirectory(prefix="snapdiff_", ignore_cleanup_errors=True) as d:
        path = d + "/cust_orders"
        write_snapshot(
            per_customer(orders.where(F.col("o_orderdate") < ts_ntz(_SNAP_CUTOFF))),
            path,
        )
        write_snapshot(per_customer(orders), path)
        v1 = read_snapshot(spark, path, version=1).alias("v1")
        v2 = read_snapshot(spark, path, version=2).alias("v2")
        diff = (
            v1.join(v2, F.col("v1.o_custkey") == F.col("v2.o_custkey"), "full")
            .select(
                F.coalesce("v2.o_custkey", "v1.o_custkey").alias("custkey"),
                F.col("v1.n").alias("n_old"),
                F.col("v2.n").alias("n_new"),
                F.col("v1.total").alias("total_old"),
                F.col("v2.total").alias("total_new"),
                F.when(F.col("v1.o_custkey").isNull(), "added")
                .when(
                    (F.col("v2.n") != F.col("v1.n"))
                    | (F.col("v2.total") != F.col("v1.total")),
                    "changed",
                )
                .otherwise("unchanged")
                .alias("change_type"),
            )
            .orderBy("custkey")
        )
        return diff.localCheckpoint(eager=True)


x_snapshot_diff.__doc__ = x_snapshot_diff.__doc__.format(cutoff=_SNAP_CUTOFF)


# ---------------------------------------------------------------------------
# Right-to-erasure sweep (round 8)
# ---------------------------------------------------------------------------

_FORGET_MOD = 97


@query(
    "x_forget_users",
    oracle=f"""
    WITH forget AS (
      SELECT c_custkey AS k FROM customer WHERE c_custkey % {_FORGET_MOD} = 0
    ),
    eo AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM forget)),
    t AS (
      SELECT 'customer' AS tbl, (SELECT COUNT(*) FROM customer) AS rows_before,
             (SELECT COUNT(*) FROM forget) AS rows_erased
      UNION ALL
      SELECT 'orders', (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM eo)
      UNION ALL
      SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM eo))
      UNION ALL
      SELECT 'events', (SELECT COUNT(*) FROM events),
             (SELECT COUNT(*) FROM events
              WHERE user_id IN (SELECT k FROM forget))
    )
    SELECT tbl, rows_before, rows_erased,
           rows_before - rows_erased AS rows_after,
           0 AS residual_refs
    FROM t ORDER BY tbl
    """,
)
def x_forget_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (GDPR art. 17) sweep: given the forget-request
    key set (c_custkey % {m} = 0), CASCADE the erasure through the
    referential graph — customer rows, their orders, those orders'
    lineitems, and the users' events — and emit the per-table compliance
    ledger (rows before / erased / after) plus ``residual_refs``: the
    COUNTED number of post-erasure rows still referencing a forgotten
    key, recomputed from the erased frames themselves (not assumed) — a
    cascade bug surfaces as a nonzero count and a hash mismatch against
    the oracle's constant 0.

    Scale shape: the forget set is tiny (1/{m} of customers) and
    broadcast into every probe (left_semi for the erase counts,
    left_anti for the survivors and the residual re-check); the
    lineitem cascade goes through the erased-orders key set, also
    broadcast under AQE. Each fact table is scanned twice (erase count +
    residual check) — at 100 TB the erasure itself would be a
    partition-rewrite MERGE, but the LEDGER is exactly this plan."""
    t = tables(spark, sf_dir)
    forget = t["customer"].where(F.col("c_custkey") % _FORGET_MOD == 0).select(
        F.col("c_custkey").alias("k")
    )
    eo = (
        t["orders"]
        .join(forget, F.col("o_custkey") == F.col("k"), "left_semi")
        .select("o_orderkey")
    )

    def ledger(tbl: str, df: DataFrame, key: str, keys: DataFrame, kcol: str):
        erased = df.join(keys, F.col(key) == F.col(kcol), "left_semi")
        kept = df.join(keys, F.col(key) == F.col(kcol), "left_anti")
        residual = kept.join(keys, F.col(key) == F.col(kcol), "left_semi")
        return (
            df.agg(F.count("*").alias("rows_before"))
            .crossJoin(F.broadcast(erased.agg(F.count("*").alias("rows_erased"))))
            .crossJoin(F.broadcast(kept.agg(F.count("*").alias("rows_after"))))
            .crossJoin(
                F.broadcast(residual.agg(F.count("*").alias("residual_refs")))
            )
            .select(
                F.lit(tbl).alias("tbl"),
                "rows_before",
                "rows_erased",
                "rows_after",
                "residual_refs",
            )
        )

    out = (
        ledger("customer", t["customer"], "c_custkey", forget, "k")
        .unionByName(ledger("orders", t["orders"], "o_custkey", forget, "k"))
        .unionByName(
            ledger("lineitem", t["lineitem"], "l_orderkey", eo, "o_orderkey")
        )
        .unionByName(ledger("events", t["events"], "user_id", forget, "k"))
    )
    return out.orderBy("tbl")


x_forget_users.__doc__ = x_forget_users.__doc__.format(m=_FORGET_MOD)


# ---------------------------------------------------------------------------
# Small-file compaction planner (OPTIMIZE-style bin packing)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 4_000   # target bytes per compacted output file
_COMPACT_FILE_MOD = 5     # manifest granularity: one "file" per (source, doc_id//5)


def _pack_manifest(manifest: DataFrame, target: int = _COMPACT_TARGET) -> DataFrame:
    """Cumulative-sum bin packing of a (source, file_id, n_docs, bytes)
    manifest into ``group_id`` bins of ~``target`` bytes. Integer
    division is exact ``DIV`` (≡ DuckDB ``//``) on the binning site —
    never double-divide-then-cast, which only matches floor division
    while operands stay non-negative and below 2^53 (ADVICE r9 #2)."""
    w = (
        Window.partitionBy("source")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return manifest.select(
        "source",
        "file_id",
        "n_docs",
        "bytes",
        (F.sum("bytes").over(w) - F.col("bytes")).alias("cum_before"),
    ).select(
        "source",
        "file_id",
        "n_docs",
        "bytes",
        F.expr(f"cum_before DIV {target}").alias("group_id"),
    )


def _compaction_packed(docs: DataFrame, file_mod: int = _COMPACT_FILE_MOD) -> DataFrame:
    """The shared planner core: documents → per-(source, doc_id DIV mod)
    manifest → :func:`_pack_manifest` binning."""
    return _pack_manifest(
        docs.groupBy(
            "source",
            F.expr(f"doc_id DIV {file_mod}").alias("file_id"),
        ).agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("bytes"),
        )
    )


@query(
    "x_compaction_plan",
    oracle=f"""
    WITH manifest AS (
      SELECT source, doc_id // {_COMPACT_FILE_MOD} AS file_id,
             COUNT(*) AS n_docs,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS bytes
      FROM documents GROUP BY 1, 2
    ),
    packed AS (
      SELECT source, file_id, n_docs, bytes,
             CAST((SUM(bytes) OVER (
                     PARTITION BY source ORDER BY file_id
                     ROWS UNBOUNDED PRECEDING) - bytes)
                  // {_COMPACT_TARGET} AS BIGINT) AS group_id
      FROM manifest
    )
    SELECT source, group_id,
           COUNT(*) AS n_files,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(bytes) AS BIGINT) AS group_bytes,
           MIN(file_id) AS first_file, MAX(file_id) AS last_file
    FROM packed
    GROUP BY source, group_id
    ORDER BY source, group_id
    """,
)
def x_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style small-file compaction plan: per table partition
    (``source``), pack the file manifest into rewrite groups of
    ~{target} bytes by cumulative-sum binning — ``group_id = (running
    bytes before this file) div target`` — preserving file order so the
    rewrite keeps any clustering. Group boundaries are the multiples of
    target on the cumulative-bytes axis, so every group approximates the
    target within one file's bytes of slack on each side.

    The manifest here is derived deterministically from the documents
    table (one "file" per (source, doc_id div {mod}) of summed chars);
    in production it comes straight from the table's transaction log /
    parquet footers — same schema, same plan. Scale: the planner itself
    touches only manifest metadata (file count, not data), one window
    partitioned by table-partition key; the rewrite it emits is
    embarrassingly parallel per group. This is the maintenance operator
    that keeps scan task counts bounded after high-frequency ingest."""
    t = tables(spark, sf_dir)
    packed = _compaction_packed(t["documents"])
    return (
        packed.groupBy("source", "group_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("bytes").cast("bigint").alias("group_bytes"),
            F.min("file_id").alias("first_file"),
            F.max("file_id").alias("last_file"),
        )
        .orderBy("source", "group_id")
    )


x_compaction_plan.__doc__ = x_compaction_plan.__doc__.format(
    target=_COMPACT_TARGET, mod=_COMPACT_FILE_MOD
)


# ---------------------------------------------------------------------------
# Compaction APPLY: execute the plan, don't just emit it (VERDICT r9 #7)
# ---------------------------------------------------------------------------

#: Manifest granularity for the EXECUTED compaction: one real parquet
#: file per (source, doc_id DIV 50). Coarser than the planner's DIV-5
#: manifest deliberately — the apply query writes, reads back and
#: checksums REAL files, and a DIV-5 layout at sf0.1 is ~12k tiny files
#: whose create/commit/list metadata storm dominates the measurement
#: (94.8 s at sf0.1, 4.4× at 10× data in the r10 rehearsal — all
#: filesystem metadata, not plan cost). DIV-50 keeps the same
#: many-small-files-into-target-bins semantics at a tenth the inode
#: churn.
_APPLY_FILE_MOD = 50
#: Rewrite-group target for the executed compaction — scaled with the
#: coarser manifest (10× the planner's 4 000) so groups still pack ~3
#: files each; an unscaled target would leave every DIV-50 file larger
#: than its own bin and the "compaction" would be a 1:1 no-op rewrite.
_APPLY_TARGET = 40_000

#: Serialization for the row fingerprint both engines fold with bit_xor
#: (x_table_checksum idiom: integers as strings, text verbatim — never raw
#: double formatting).
_DOC_FP_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || "
    "CAST(n_chars AS VARCHAR) || '|' || text), 1, 15))::BIGINT"
)


def _doc_fingerprint() -> Column:
    serialized = F.concat_ws(
        "|", F.col("doc_id").cast("string"), F.col("n_chars").cast("string"), F.col("text")
    )
    return F.conv(F.substring(F.md5(serialized), 1, 15), 16, 10).cast("bigint")


def compact_files(
    spark: SparkSession,
    store_path: str,
    version: int | None = None,
    target: int = _COMPACT_TARGET,
) -> int:
    """Execute an OPTIMIZE: read the store's current snapshot (hive-
    partitioned by (source, file_id) — the small-files layout), bin its
    manifest with the SAME planner core as ``x_compaction_plan``, and
    publish the rewrite as the next snapshot partitioned by
    (source, group_id) — one output file per planned group, via
    repartition-on-the-partition-keys + partitioned write. Returns the
    new version.

    The rewrite is a single key-hash shuffle of the data being compacted
    (group assignment joins the broadcast-size manifest); the old
    snapshot stays readable until ``vacuum`` — the versioned store's
    publish protocol makes the swap atomic, so readers never see a
    half-compacted table. At 100 TB the manifest comes from the table
    format's transaction log instead of a groupBy over the data, and
    each group rewrites independently — same plan shape."""
    from ..sources.versioned import read_snapshot, write_snapshot

    snap = read_snapshot(spark, store_path, version)
    # the manifest comes from the STORED layout (its file_id partition
    # column), exactly like a table format's transaction log — never
    # re-derived from row contents
    plan = _pack_manifest(
        snap.groupBy("source", "file_id").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("bytes"),
        ),
        target=target,
    ).select("source", "file_id", "group_id")
    regrouped = (
        snap.join(F.broadcast(plan), ["source", "file_id"])
        .drop("file_id")
        .repartition("source", "group_id")
    )
    return write_snapshot(regrouped, store_path, partition_by=("source", "group_id"))


def _files_per_toplevel_partition(version_dir: str) -> dict[str, int]:
    """Count data files under each ``source=...`` subtree of a snapshot —
    driver-side metadata walk (file NAMES, never data)."""
    import os

    counts: dict[str, int] = {}
    for root, _dirs, files in os.walk(version_dir):
        rel = os.path.relpath(root, version_dir)
        top = rel.split(os.sep)[0]
        if not top.startswith("source="):
            continue
        src = top.split("=", 1)[1]
        n = sum(1 for f in files if f.startswith("part-") and f.endswith(".parquet"))
        counts[src] = counts.get(src, 0) + n
    return counts


def _file_counts(spark: SparkSession, store: str, before: int, after: int) -> DataFrame:
    """(source, n_files_before, n_files_after): data files per source
    partition of snapshot versions ``before`` and ``after`` of ``store``,
    one row per source of ``before``."""
    import os

    n_before = _files_per_toplevel_partition(os.path.join(store, f"v={before}"))
    n_after = _files_per_toplevel_partition(os.path.join(store, f"v={after}"))
    return rows_frame(
        spark,
        [(src, n, n_after.get(src, 0)) for src, n in sorted(n_before.items())],
        StructType.fromDDL("source string, n_files_before bigint, n_files_after bigint"),
    )


@query(
    "x_compaction_apply",
    oracle=f"""
    WITH frag AS (
      SELECT source,
             (ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1)
               // {_APPLY_FILE_MOD} AS file_id,
             doc_id, n_chars
      FROM documents
    ),
    manifest AS (
      SELECT source, file_id,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS bytes
      FROM frag GROUP BY 1, 2
    ),
    packed AS (
      SELECT source, file_id,
             CAST((SUM(bytes) OVER (
                     PARTITION BY source ORDER BY file_id
                     ROWS UNBOUNDED PRECEDING) - bytes)
                  // {_APPLY_TARGET} AS BIGINT) AS group_id
      FROM manifest
    ),
    files AS (
      SELECT source,
             COUNT(DISTINCT file_id) AS n_files_before,
             COUNT(DISTINCT group_id) AS n_files_after
      FROM packed GROUP BY source
    ),
    sums AS (
      SELECT source, COUNT(*) AS n_rows, bit_xor({_DOC_FP_SQL}) AS checksum
      FROM documents GROUP BY source
    )
    SELECT f.source,
           n_files_before, n_files_after,
           n_rows AS rows_before, n_rows AS rows_after,
           checksum AS checksum_before, checksum AS checksum_after
    FROM files f JOIN sums USING (source)
    ORDER BY f.source
    """,
)
def x_compaction_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction EXECUTED, not just planned: land the documents table in
    the fragmented small-files layout (one real parquet file per
    (source, file_id) manifest entry, via the versioned store), run
    :func:`compact_files`, and certify the rewrite per source —
    before/after REAL file counts from the filesystem, before/after row
    counts and bit_xor row checksums from re-reading each published
    snapshot. The oracle predicts every column from the documents table
    alone, so a rewrite that loses rows, duplicates rows, or splits a
    planned group across files hash-mismatches (file counts are walked
    from disk, checksums recomputed from the rewritten bytes — nothing
    is taken from the plan on faith).

    Scale: the certification adds one metadata walk + two checksum scans
    to the rewrite itself (:func:`compact_files` scale notes); the
    before/after checksum compare is the standard post-OPTIMIZE
    invariant check a lakehouse runs before vacuuming the old files."""
    import os
    import tempfile

    from ..sources.versioned import read_snapshot, write_snapshot

    docs = tables(spark, sf_dir)["documents"]
    with tempfile.TemporaryDirectory(prefix="x_compaction_apply_", ignore_cleanup_errors=True) as d:
        store = os.path.join(d, "docs_store")
        frag = docs.select(
            "source",
            F.expr(
                f"CAST((row_number() OVER (PARTITION BY source ORDER BY doc_id)"
                f" - 1) DIV {_APPLY_FILE_MOD} AS BIGINT)"
            ).alias("file_id"),
            "doc_id",
            "n_chars",
            "text",
        ).repartition("source", "file_id")
        v1 = write_snapshot(frag, store, partition_by=("source", "file_id"))
        v2 = compact_files(spark, store, target=_APPLY_TARGET)

        def certify(version: int, suffix: str) -> DataFrame:
            snap = read_snapshot(spark, store, version)
            return snap.select("source", _doc_fingerprint().alias("rh")).groupBy(
                "source"
            ).agg(
                F.count("*").alias(f"rows_{suffix}"),
                F.expr("bit_xor(rh)").alias(f"checksum_{suffix}"),
            )

        out = (
            _file_counts(spark, store, v1, v2).join(certify(v1, "before"), "source")
            .join(certify(v2, "after"), "source")
            .select(
                "source",
                "n_files_before",
                "n_files_after",
                "rows_before",
                "rows_after",
                "checksum_before",
                "checksum_after",
            )
            .orderBy("source")
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Snapshot RESTORE + VACUUM lifecycle (round 11)
# ---------------------------------------------------------------------------

#: Corruption rule for the bad load: every custkey ≡ 3 (mod 10) is lost.
_RESTORE_CORRUPT_MOD, _RESTORE_CORRUPT_REM = 10, 3


@query(
    "x_snapshot_restore",
    oracle=f"""
    WITH full_t AS (
      SELECT COUNT(*) AS n_rows,
             CAST(bit_xor(c_custkey) AS BIGINT) AS key_checksum,
             CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS bal_cents
      FROM customer
    ),
    corrupt AS (
      SELECT COUNT(*) AS n_rows,
             CAST(bit_xor(c_custkey) AS BIGINT) AS key_checksum,
             CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS bal_cents
      FROM customer
      WHERE c_custkey % {_RESTORE_CORRUPT_MOD} <> {_RESTORE_CORRUPT_REM}
    )
    SELECT * FROM (
      SELECT 'published' AS step, 1 AS version, n_rows, key_checksum,
             bal_cents, false AS on_disk
      FROM full_t
      UNION ALL
      SELECT 'published', 2, n_rows, key_checksum, bal_cents, true
      FROM corrupt
      UNION ALL
      SELECT 'restored', 3, n_rows, key_checksum, bal_cents, true
      FROM full_t
    ) ORDER BY version
    """,
)
def x_snapshot_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE + VACUUM — the two versioned-store lifecycle faces
    x_snapshot_diff leaves untouched, run as a REAL incident drill:

    1. v1 = good customer snapshot published to the store.
    2. v2 = corrupted reload (a bad ETL drops every custkey ≡ {rem}
       mod {mod}) published over it — the head is now wrong.
    3. RESTORE: v1 is read back via time travel and re-published as v3
       (rollback-by-republish — Delta RESTORE semantics: history is
       append-only, a rollback is a new version with old content).
    4. VACUUM keep_last=2 retires v1's files; v2 (the incident record)
       and v3 (the head) survive.

    One output row per version with stats computed from the snapshot
    files THEMSELVES (read back before vacuum, checkpointed eagerly so
    nothing lazily re-reads a vacuumed directory): hash-equality with
    the oracle's raw-table arithmetic certifies that v3 ≡ v1 content
    exactly (the restore lost/duplicated nothing), that v2 really
    contains the corrupted subset (version isolation), and that vacuum
    removed precisely v1 (``on_disk``). tests assert the shrunk
    time-travel horizon (reading v1 after vacuum raises).

    Scale: snapshots write/read as plain parquet (no driver data path);
    stats are map-side aggregates; vacuum is O(#versions) metadata. The
    balance sum uses the engine's one-rounding-rule integer cents.

    Reference contrast: the app's ``mode="overwrite"`` reload
    (utils/data_loader.py:144-146) IS step 2 with no way back; this
    operator is the missing undo."""
    import tempfile

    from ..sources import load_table
    from ..sources.versioned import (
        list_versions,
        read_snapshot,
        write_snapshot,
        vacuum,
    )

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    with tempfile.TemporaryDirectory(prefix="snaprestore_", ignore_cleanup_errors=True) as d:
        path = d + "/customer_serving"
        write_snapshot(customer, path)  # v1: good load
        write_snapshot(  # v2: corrupted reload
            customer.where(
                F.col("c_custkey") % _RESTORE_CORRUPT_MOD
                != _RESTORE_CORRUPT_REM
            ),
            path,
        )
        # RESTORE = time-travel read of v1, re-published as v3
        write_snapshot(read_snapshot(spark, path, version=1), path)

        def stats(version: int, step: str) -> DataFrame:
            snap = read_snapshot(spark, path, version=version)
            return (
                snap.agg(
                    F.count("*").alias("n_rows"),
                    F.bit_xor(F.col("c_custkey")).alias("key_checksum"),
                    F.sum(
                        F.floor(
                            F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)
                        ).cast("long")
                    ).alias("bal_cents"),
                )
                .select(
                    F.lit(step).alias("step"),
                    F.lit(version).alias("version"),
                    "n_rows",
                    "key_checksum",
                    "bal_cents",
                )
                .localCheckpoint(eager=True)  # materialize BEFORE vacuum
            )

        rows = [stats(1, "published"), stats(2, "published"), stats(3, "restored")]
        vacuum(path, keep_last=2)
        alive = set(list_versions(path))
        out = rows[0].withColumn("on_disk", F.lit(1 in alive))
        for v, frame in ((2, rows[1]), (3, rows[2])):
            out = out.unionAll(frame.withColumn("on_disk", F.lit(v in alive)))
        return out.orderBy("version").localCheckpoint(eager=True)


x_snapshot_restore.__doc__ = x_snapshot_restore.__doc__.format(
    rem=_RESTORE_CORRUPT_REM, mod=_RESTORE_CORRUPT_MOD
)


# ---------------------------------------------------------------------------
# Time travel AS OF TIMESTAMP (round 12)
# ---------------------------------------------------------------------------

#: Pinned publish timestamps (micros) and the delete-wave rule for the
#: as-of drill — all replayable arithmetic, no wall clock anywhere.
_ASOF_TS = (1_000_000, 2_000_000, 3_000_000)
_ASOF_PROBES = (500_000, 1_500_000, 2_000_000, 2_500_000, 3_500_000)
_ASOF_DEL_MOD, _ASOF_DEL_REM = 3, 0


@query(
    "x_snapshot_asof_ts",
    oracle=f"""
    WITH v1 AS (
      SELECT COUNT(*) AS n_rows,
             CAST(bit_xor(c_custkey) AS BIGINT) AS key_checksum,
             CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS bal_cents
      FROM customer
    ),
    v2 AS (
      SELECT COUNT(*) AS n_rows,
             CAST(bit_xor(c_custkey) AS BIGINT) AS key_checksum,
             CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS bal_cents
      FROM customer
      WHERE c_custkey % {_ASOF_DEL_MOD} <> {_ASOF_DEL_REM}
    ),
    v3 AS (
      SELECT COUNT(*) AS n_rows,
             CAST(bit_xor(c_custkey) AS BIGINT) AS key_checksum,
             CAST(SUM(CAST(floor((c_acctbal + 1.0) * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS bal_cents
      FROM customer
      WHERE c_custkey % {_ASOF_DEL_MOD} <> {_ASOF_DEL_REM}
    )
    SELECT * FROM (
      SELECT CAST({_ASOF_PROBES[0]} AS BIGINT) AS probe_ts, 0 AS version,
             0 AS n_rows, 0 AS key_checksum, 0 AS bal_cents
      UNION ALL
      SELECT {_ASOF_PROBES[1]}, 1, n_rows, key_checksum, bal_cents FROM v1
      UNION ALL
      SELECT {_ASOF_PROBES[2]}, 2, n_rows, key_checksum, bal_cents FROM v2
      UNION ALL
      SELECT {_ASOF_PROBES[3]}, 2, n_rows, key_checksum, bal_cents FROM v2
      UNION ALL
      SELECT {_ASOF_PROBES[4]}, 3, n_rows, key_checksum, bal_cents FROM v3
    ) ORDER BY probe_ts
    """,
)
def x_snapshot_asof_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel AS OF TIMESTAMP — the by-time face the by-version
    reads (diff/restore/vacuum) left uncovered: three snapshots
    published at pinned micro-timestamps (full load; a delete wave
    dropping custkey ≡ 0 mod 3; a +1.00 balance restatement), then five
    probe timestamps resolved through the publish log's
    latest-publish-≤-ts rule — before-first-publish (version 0, empty
    stats: the 'timestamp before earliest snapshot' contract surfaced
    AS DATA), mid-window probes, an exact-boundary probe (equality
    resolves to the version published AT that instant), and a
    past-head probe. Per probe: resolved version + stats recomputed
    from the snapshot FILES (count, key xor, exact cents) — the oracle
    predicts all of it from the customer table and the publish rules,
    so a wrong resolution (off-by-one version, open/closed boundary
    flip) or a torn snapshot hash-mismatches.

    Scale: as-of resolution is a publish-log (metadata) scan —
    O(#versions), no data touched until the resolved snapshot is read;
    exactly a table format's AS OF TIMESTAMP. The +1.0 restatement is
    computed identically in IEEE by both engines (one correctly-rounded
    addition), so the cents rule stays cross-engine exact.

    Reference contrast: the app's reloads overwrite in place
    (utils/data_loader.py:144-146) — "what did the table say when the
    model trained last Tuesday" is unanswerable there; this face is
    that answer."""
    import tempfile

    from ..sources.versioned import version_asof, write_snapshot
    from ..sources.versioned import read_snapshot_asof

    customer = tables(spark, sf_dir)["customer"].select(
        "c_custkey", "c_acctbal"
    )
    with tempfile.TemporaryDirectory(prefix="snapasof_", ignore_cleanup_errors=True) as d:
        path = d + "/customer_serving"
        kept = customer.where(
            F.col("c_custkey") % _ASOF_DEL_MOD != _ASOF_DEL_REM
        )
        write_snapshot(customer, path, publish_ts=_ASOF_TS[0])
        write_snapshot(kept, path, publish_ts=_ASOF_TS[1])
        write_snapshot(
            kept.withColumn("c_acctbal", F.col("c_acctbal") + F.lit(1.0)),
            path,
            publish_ts=_ASOF_TS[2],
        )
        frames = []
        for ts in _ASOF_PROBES:
            v = version_asof(path, ts)
            if v is None:
                frames.append(
                    rows_frame(
                        spark,
                        [(ts, 0, 0, 0, 0)],
                        StructType.fromDDL(
                            "probe_ts bigint, version int, n_rows bigint, "
                            "key_checksum bigint, bal_cents bigint"
                        ),
                    )
                )
                continue
            frames.append(
                read_snapshot_asof(spark, path, ts)
                .agg(
                    F.count("*").alias("n_rows"),
                    F.bit_xor(F.col("c_custkey")).alias("key_checksum"),
                    F.sum(
                        F.floor(
                            F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)
                        ).cast("long")
                    ).alias("bal_cents"),
                )
                .select(
                    F.lit(ts).cast("bigint").alias("probe_ts"),
                    F.lit(v).cast("int").alias("version"),
                    "n_rows",
                    "key_checksum",
                    "bal_cents",
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionAll(f)
        return out.orderBy("probe_ts").localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Late-arriving-fact SCD2 correction (round 11)
# ---------------------------------------------------------------------------

#: Late-batch rule: ~1% of observations arrive after the history build.
_LATE_MOD, _LATE_REM = 101, 5


@query(
    "x_scd2_late_correction",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts AS valid_from
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER w AS valid_to,
           CAST(row_number() OVER w AS BIGINT) AS version,
           (lead(valid_from) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_type)
    """,
)
def x_scd2_late_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving facts merged into an EXISTING SCD2 history by
    entity-scoped incremental rebuild — the correction path every
    history-preserving warehouse needs and full-rebuild pipelines fake:
    a fact with an EARLIER effective time than already-published
    intervals cannot be appended; it must split/renumber the covering
    intervals of ITS entity, and only its entity.

    The query stages the real incident: the history is first built
    WITHOUT the late batch (event_id ≡ {rem} mod {mod}, ~1% of
    observations), the late batch then arrives, and the merge is

        corrected = base_history ⟕̸ affected_users        (untouched)
                  ∪ scd2_history(ALL events of affected)  (rebuilt)

    so the rebuild shuffles ONLY the affected entities' observations —
    never the full fact table. The oracle is the one-shot SCD2 build
    over the complete feed: hash equality certifies (a) untouched
    entities' intervals survive byte-identical, and (b) affected
    entities' splits, valid_to closes, version renumbering and
    is_current flips are exactly what a from-scratch build produces.

    Scale: the affected-key set broadcasts into one anti and one semi
    probe; the rebuild is the standard single-Exchange SCD2 window
    chain over |affected| users' rows. At 100 TB this is the difference
    between reprocessing ~1% and reprocessing everything.

    Reference contrast: the app's overwrite reload
    (utils/data_loader.py:144-146) handles late data by destroying
    history; x_scd2_history adds the history, this adds the repair."""
    ev = tables(spark, sf_dir)["events"]
    is_late = F.col("event_id") % _LATE_MOD == _LATE_REM
    base = ev.where(~is_late)
    late = ev.where(is_late)
    affected = late.select("user_id").distinct()
    untouched = scd2_history(base).join(
        F.broadcast(affected), "user_id", "left_anti"
    )
    rebuilt = scd2_history(
        ev.join(F.broadcast(affected), "user_id", "left_semi")
    )
    return untouched.unionByName(rebuilt).orderBy(
        "user_id", "valid_from", "event_type"
    )


x_scd2_late_correction.__doc__ = x_scd2_late_correction.__doc__.format(
    rem=_LATE_REM, mod=_LATE_MOD
)


# ---------------------------------------------------------------------------
# Write-Audit-Publish (round 11)
# ---------------------------------------------------------------------------

#: Corruption rule for the bad candidate: mktsegment nulled out on this class.
_WAP_NULL_MOD, _WAP_NULL_REM = 7, 2
#: The corrected reload's balance adjustment (exercises a content change
#: that the head checksum must reflect after the third publish).
_WAP_ADJ_CENTS = 10


@query(
    "x_wap_publish",
    oracle=f"""
    WITH src AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS bal
      FROM customer
    ),
    adj AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                      + {_WAP_ADJ_CENTS}) AS BIGINT) AS bal
      FROM customer
    )
    SELECT * FROM (
      SELECT 1 AS attempt, true AS audit_passed, 1 AS head_version,
             s.n AS head_rows, s.bal AS head_bal_cents
      FROM src s
      UNION ALL
      SELECT 2, false, 1, s.n, s.bal FROM src s
      UNION ALL
      SELECT 3, true, 2, a.n, a.bal FROM adj a
    ) ORDER BY attempt
    """,
)
def x_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish — the lakehouse release workflow (Iceberg's
    WAP / Delta's staging-table pattern) composed from parts this engine
    already certifies separately (expectation audit + versioned-store
    atomic publish), run as a REAL three-attempt drill:

    1. clean load           → audit passes → published as v1
    2. corrupted reload     (mktsegment nulled on custkey ≡ {rem} mod
       {mod}, violating the completeness expectation) → audit FAILS →
       publish blocked, head stays v1 — the corrupted data is never
       visible to readers (it only ever existed in the staging store)
    3. corrected reload     (balances adjusted +{adj} cents) → audit
       passes → published as v2

    After every attempt the ledger row reads the PROD store's actual
    head (version, rows, balance checksum) back from disk — so the hash
    certifies both the gate (attempt 2 changed nothing) and the
    publishes (v1/v2 content exactly right, the v2 adjustment visible).
    Audits: zero null mktsegments AND rowcount reconciles against the
    source — the two checks every WAP pipeline starts with.

    Scale: audits are single-scan scalar aggregates over the STAGED
    candidate; publish is the store's atomic manifest swap; the blocked
    candidate costs one staging write + one audit, never a prod write.
    """
    import tempfile

    from ..sources import load_table
    from ..sources.versioned import published_version, read_snapshot, write_snapshot

    cents = F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).cast("long")
    # every candidate load carries the derived integer-cents column (the
    # ingest layer computes it once; audits and checksums never touch
    # the raw double again)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", cents.alias("bal_cents")
    )
    corrupted = customer.withColumn(
        "c_mktsegment",
        F.when(
            F.col("c_custkey") % _WAP_NULL_MOD == _WAP_NULL_REM, F.lit(None)
        ).otherwise(F.col("c_mktsegment")),
    )
    corrected = customer.withColumn(
        "bal_cents", F.col("bal_cents") + _WAP_ADJ_CENTS
    )
    with tempfile.TemporaryDirectory(prefix="wap_", ignore_cleanup_errors=True) as d:
        prod = d + "/prod"
        expected_rows = customer.count()  # source-reconciliation target

        def audit(df: DataFrame) -> bool:
            row = df.agg(
                F.count("*").alias("n"),
                F.count_if(F.col("c_mktsegment").isNull()).alias("nulls"),
            ).collect()[0]
            return row.nulls == 0 and row.n == expected_rows

        def head_stats(attempt: int, passed: bool) -> DataFrame:
            head = read_snapshot(spark, prod)
            ver = published_version(prod)
            return head.agg(
                F.count("*").alias("head_rows"),
                F.sum("bal_cents").cast("long").alias("head_bal_cents"),
            ).select(
                F.lit(attempt).alias("attempt"),
                F.lit(passed).alias("audit_passed"),
                F.lit(ver).cast("int").alias("head_version"),
                "head_rows",
                "head_bal_cents",
            ).localCheckpoint(eager=True)

        ledger = []
        for attempt, candidate in ((1, customer), (2, corrupted), (3, corrected)):
            # WRITE to staging (its own store — never the prod path)
            stage = f"{d}/staging_{attempt}"
            write_snapshot(candidate, stage)
            staged = read_snapshot(spark, stage)
            # AUDIT the staged files themselves (what publish would expose)
            passed = audit(staged)
            # PUBLISH only on a passing audit — atomic manifest swap
            if passed:
                write_snapshot(staged, prod)
            ledger.append(head_stats(attempt, passed))
        out = ledger[0]
        for frame in ledger[1:]:
            out = out.unionAll(frame)
        return out.orderBy("attempt")


x_wap_publish.__doc__ = x_wap_publish.__doc__.format(
    rem=_WAP_NULL_REM, mod=_WAP_NULL_MOD, adj=_WAP_ADJ_CENTS
)


# ---------------------------------------------------------------------------
# Incremental view maintenance: join-aggregate delta algebra
# ---------------------------------------------------------------------------


def delta_join_frames(
    base_a: DataFrame,
    delta_a: DataFrame,
    base_b: DataFrame,
    delta_b: DataFrame,
    on: list[str],
) -> DataFrame:
    """The three delta legs of (A∪ΔA) ⋈ (B∪ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB
    ∪ ΔA⋈ΔB (insert-only IVM; deletes are the same algebra with signed
    counts). Returns ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — union with the standing
    A⋈B view to maintain it WITHOUT touching the base-side join again.

    Scale: this is THE reason materialized join views are maintainable
    at 100 TB — each refresh joins only delta-sized inputs against one
    base side (ΔA⋈B and A⋈ΔB are delta-driven probes; broadcast the
    delta when it is small), never base⋈base."""
    return (
        delta_a.join(base_b, on)
        .unionByName(base_a.join(delta_b, on))
        .unionByName(delta_a.join(delta_b, on))
    )


@query(
    "x_ivm_join_delta",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def x_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a join-aggregate: the view
    γ_{nationkey}(orders ⋈ customer) is materialized from the BASE
    partitions only (orders with o_orderkey % 10 ≠ 0, customers with
    c_custkey % 7 ≠ 0 — a deterministic stand-in for "rows that existed
    at the last refresh"), then brought current by aggregating ONLY the
    three delta legs (Δorders⋈customer_base, orders_base⋈Δcustomer,
    Δorders⋈Δcustomer) and merging partial aggregates — COUNT and SUM
    are abelian, so merge = re-aggregate the partials. The oracle
    recomputes the view FROM SCRATCH over the full tables: any leg
    missed, double-counted, or joined against the wrong side
    hash-mismatches.

    Revenue in exact integer cents (floor(x·100 + 0.5), the repo-wide
    rounding rule) so the merged sums are order-independent.

    Scale: refresh cost is delta-driven (each leg probes one base side
    with a delta; base⋈base never re-runs) — the property that makes a
    materialized join view cheaper than recompute at 100 TB. Pytest
    replays the identity on seeded random splits via
    :func:`delta_join_frames`.

    Reference contrast: the reference recomputes every dashboard query
    from scratch per page load (``app.py``); this is the maintained-
    view alternative, §2.13 warehouse family.
    """
    t = tables(spark, sf_dir)
    orders = t["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    cust = t["customer"].select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    base_a = orders.where(F.col("o_orderkey") % 10 != 0)
    delta_a = orders.where(F.col("o_orderkey") % 10 == 0)
    base_b = cust.where(F.col("o_custkey") % 7 != 0)
    delta_b = cust.where(F.col("o_custkey") % 7 == 0)

    def partial(frame: DataFrame) -> DataFrame:
        return frame.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )

    m0 = partial(base_a.join(base_b, "o_custkey"))  # the standing view
    dm = partial(delta_join_frames(base_a, delta_a, base_b, delta_b, ["o_custkey"]))
    return (
        m0.unionByName(dm)
        .groupBy("nationkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
    )


@query(
    "x_ivm_agg_delta",
    oracle="""
    WITH fin AS (
      SELECT * FROM events
      WHERE (event_id % 11 <> 0 AND event_id % 13 <> 0) OR event_id % 11 = 0
    )
    SELECT event_type,
           CAST(user_id % 97 AS BIGINT) AS user_mod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM fin GROUP BY 1, 2
    """,
)
def x_ivm_agg_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a GROUPED AGGREGATE under inserts
    AND deletes — the face x_ivm_join_delta (three-delta-leg join view)
    leaves uncovered: deletions arrive as NEGATIVE-multiplicity delta
    rows, the merge is sum-of-signed-partials, and a group whose merged
    multiplicity reaches zero must VANISH from the view (the classic
    aggregate-IVM subtlety — an implementation that keeps emptied groups
    as zero rows, or lets a count go negative, hash-mismatches the
    from-scratch oracle).

    Deterministic stand-ins for the changelog: the standing view covers
    events with event_id % 11 ≠ 0; since the last refresh the rows with
    event_id % 13 = 0 among them were DELETED and the % 11 = 0 rows were
    INSERTED. The view is maintained from the two delta legs only — the
    base partials are never recomputed (the property that makes a
    maintained aggregate cheaper than recompute at 100 TB: refresh cost
    ∝ |Δ|, one uniform-key shuffle over the deltas). Values in exact
    integer cents (floor(x·100 + 0.5), the repo-wide rounding rule) so
    merged sums are order-independent.

    Reference contrast: the reference recomputes every dashboard
    aggregate per page load (``app.py:218-236``); this is the
    changelog-maintained alternative, §2.13 warehouse family.
    """
    ev = tables(spark, sf_dir)["events"].select(
        "event_id",
        "event_type",
        (F.col("user_id") % 97).cast("long").alias("user_mod"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    base = ev.where(F.col("event_id") % 11 != 0)
    deletes = base.where(F.col("event_id") % 13 == 0).withColumn(
        "sign", F.lit(-1).cast("long")
    )
    inserts = ev.where(F.col("event_id") % 11 == 0).withColumn(
        "sign", F.lit(1).cast("long")
    )

    keys = ["event_type", "user_mod"]
    m0 = base.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("cents").alias("value_cents"),
    )
    dm = (
        deletes.unionByName(inserts)
        .groupBy(*keys)
        .agg(
            F.sum("sign").alias("n_events"),
            F.sum(F.col("sign") * F.col("cents")).alias("value_cents"),
        )
    )
    return (
        m0.unionByName(dm)
        .groupBy(*keys)
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("value_cents").cast("long").alias("value_cents"),
        )
        .where(F.col("n_events") > 0)
    )
