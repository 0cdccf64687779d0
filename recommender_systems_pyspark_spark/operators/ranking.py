"""Distributed total-order ranking: global ``row_number`` / ``NTILE``
without the single-partition window trap.

``F.ntile(n).over(Window.orderBy(...))`` compiles to ``Exchange
SinglePartition`` + one sort of the ENTIRE input on one task — the classic
scale killer Spark itself warns about ("No Partition Defined for Window
operation"). The helpers here produce byte-identical results with a
DISTRIBUTED plan (``ml.recommender.dict_from_column`` ranks its labels
with it too):

1. ``repartitionByRange`` on the sort key — a sampled range shuffle, so the
   sort is parallel and each partition holds a contiguous key range;
2. per-partition ``row_number`` (window partitioned by partition id —
   local, no second shuffle);
3. add each partition's cumulative row offset via a broadcast join of one
   tiny (partition → offset) table, built from the driver's list through
   Arrow (``sources.sinks.rows_frame``: no Python-worker stage). Driver
   state is O(#partitions), never O(rows).

``NTILE(n)`` is then pure arithmetic on the global row number: with N rows,
the first ``N mod n`` buckets get ``ceil(N/n)`` rows, the rest ``floor(N/n)``
— exactly the SQL-standard (Spark's and DuckDB's) tiling, so an oracle using
real ``NTILE`` keeps hash-matching.

The sort key MUST be a total order (include a unique-key tiebreaker):
range-partition boundaries may split equal leading keys across partitions,
which is only safe when the full key is unique.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..sources.sinks import rows_frame

_OFFSETS_SCHEMA = StructType([StructField("_pid", IntegerType()), StructField("_off", LongType())])


def with_global_row_number(
    df: DataFrame,
    order: list[Column],
    alias: str = "_rn",
    n_parts: int | None = None,
) -> tuple[DataFrame, int]:
    """Append a 1-based global ``row_number`` over ``order`` (must be a
    total order) with a distributed plan. Returns ``(df_with_rank, n_rows)``
    — the count is a free by-product of the offset computation.

    The ranged repartition is cached while the per-partition sizes are
    collected (RangePartitioner re-samples per job; an uncached recompute
    could draw different boundaries and corrupt ranks), then the result is
    ``localCheckpoint``-ed so the cache can be released immediately instead
    of leaking for the session lifetime.
    """
    spark = df.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        df.repartitionByRange(n_parts, *order)
        .withColumn("_pid", F.spark_partition_id())
        .cache()
    )
    sizes = ranged.groupBy("_pid").agg(F.count("*").alias("sz")).collect()
    offsets: list[tuple[int, int]] = []
    acc = 0
    for r in sorted(sizes, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], acc))
        acc += r["sz"]
    off_df = rows_frame(spark, offsets or [(0, 0)], _OFFSETS_SCHEMA)
    w = Window.partitionBy("_pid").orderBy(*order)
    out = (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(alias, (F.row_number().over(w) + F.col("_off")).cast("bigint"))
        .drop("_pid", "_off")
        .localCheckpoint(eager=True)
    )
    ranged.unpersist()
    return out, acc


def with_global_ntile(
    df: DataFrame,
    n: int,
    order: list[Column],
    alias: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Append SQL-standard ``NTILE(n) OVER (ORDER BY order)`` (as ``int``,
    matching ``F.ntile``'s type) with a distributed plan. ``order`` must be
    a total order."""
    rn = "_rn_" + alias
    ranked, n_rows = with_global_row_number(df, order, alias=rn, n_parts=n_parts)
    q, rem = divmod(n_rows, n)
    big = q + 1  # first `rem` buckets take one extra row
    r = F.col(rn)
    if q == 0:
        # fewer rows than buckets: row k lands alone in bucket k
        bucket = r
    else:
        bucket = F.when(
            r <= rem * big, F.floor((r - 1) / big) + 1
        ).otherwise(rem + F.floor((r - rem * big - 1) / q) + 1)
    return ranked.withColumn(alias, bucket.cast("int")).drop(rn)


# ---------------------------------------------------------------------------
# Registered query: certifies the distributed rank primitive itself against
# a real ROW_NUMBER() oracle (the helper backs every global rank/tile in the
# engine — x_rfm_segments, x_text_unigram_score, ml dictionary encoding).
# ---------------------------------------------------------------------------

def _register() -> None:
    from ..registry import query
    from ..sources import tables

    @query(
        "x_global_rank",
        oracle="""
        SELECT doc_id, n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rank
        FROM documents
        ORDER BY rank
        """,
    )
    def x_global_rank(spark, sf_dir):  # noqa: ANN001, ANN202
        """Global total-order rank of every document by size (unique
        doc_id tiebreaker), via :func:`with_global_row_number` — the
        distributed two-phase plan. Byte-identical to the SQL
        ``ROW_NUMBER()`` the oracle runs, with no single-partition sort
        anywhere: the range shuffle is the only data movement, and driver
        state is one (partition → offset) list."""
        docs = tables(spark, sf_dir)["documents"].select("doc_id", "n_chars")
        ranked, _ = with_global_row_number(
            docs, [F.col("n_chars").desc(), F.col("doc_id")], alias="rank"
        )
        return ranked.select("doc_id", "n_chars", "rank").orderBy("rank")

    _RPB_K = 8  # target range-partition count
    _RPB_MOD = 20  # 1-in-20 deterministic key sample (5%)

    @query(
        "x_range_partition_balance",
        oracle=f"""
        WITH o AS (
          SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 o_orderkey
          FROM orders
        ),
        smp AS (
          SELECT cents, o_orderkey FROM o
          WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                ::BIGINT % {_RPB_MOD} = 0
        ),
        s AS (SELECT CAST(COUNT(*) AS BIGINT) AS sn FROM smp),
        rk AS (
          SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rn
          FROM smp
        ),
        pos AS (
          SELECT DISTINCT GREATEST(1, (t.i * s.sn) // {_RPB_K}) AS p
          FROM range(1, {_RPB_K}) t(i), s
        ),
        bnd AS (SELECT DISTINCT rk.cents AS b FROM rk JOIN pos ON rk.rn = pos.p),
        iv AS (
          SELECT b AS lo, LEAD(b) OVER (ORDER BY b) AS hi FROM bnd
          UNION ALL
          SELECT NULL, MIN(b) FROM bnd
        ),
        ivb AS (
          SELECT lo, hi,
                 CAST(ROW_NUMBER() OVER (ORDER BY lo NULLS FIRST) AS BIGINT)
                   AS bucket
          FROM iv
        ),
        asg AS (
          SELECT ivb.bucket, ivb.lo, ivb.hi, o.cents
          FROM o JOIN ivb
            ON (ivb.lo IS NULL OR o.cents >= ivb.lo)
           AND (ivb.hi IS NULL OR o.cents < ivb.hi)
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n FROM o
        ),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbuckets FROM ivb)
        SELECT a.bucket, MIN(a.lo) AS lo, MIN(a.hi) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(a.cents) AS min_cents, MAX(a.cents) AS max_cents,
               CAST((COUNT(*) * 1000000) // t.n AS BIGINT) AS share_ppm,
               CAST((ABS(COUNT(*) * b.nbuckets - t.n) * 1000000)
                    // (t.n * b.nbuckets) AS BIGINT) AS dev_ppm
        FROM asg a, tot t, nb b
        GROUP BY a.bucket, t.n, b.nbuckets
        ORDER BY a.bucket
        """,
    )
    def x_range_partition_balance(spark, sf_dir):  # noqa: ANN001, ANN202
        """Range-partitioner balance audit — certifies the exact recipe
        Spark's ``repartitionByRange`` (and every sort-shuffle) lives on:
        draw a DETERMINISTIC 1-in-{m} key sample (md5 of the unique key,
        so the oracle replays the sample itself), take the sample's
        rank-DISC quantiles at i/{k} as range boundaries, assign EVERY
        row to its boundary interval, and report per-bucket counts with
        min/max key (contiguity evidence), corpus share, and deviation
        from the ideal 1/{k} share in ppm. The dev_ppm column IS the
        answer to "would this range layout stripe evenly at 1000
        executors, or does sampling error starve some ranges?" — the
        audit a pipeline runs before committing a sort key to a 100 TB
        table layout (the x_zorder family's 1-D cousin, measured rather
        than assumed).

        Scale shape: the sample is a map-side filter; its quantiles go
        through :func:`with_global_row_number` (distributed two-phase
        rank — driver state is O(#partitions) offsets plus ONE scalar,
        the sample count); the ≤{k}-row boundary/interval frames use
        ordinary windows (bounded by construction — allowlisted) and
        broadcast into a nested-loop assignment join where each row
        matches EXACTLY ONE interval (half-open, NULL-fenced ends); the
        per-bucket rollup is a {k}-key hash agg. No corpus-size driver
        state anywhere.

        Reference contrast: the reference delegates all layout to
        Postgres (``utils/db.py``); this extends the §2.13 layout family
        (x_zorder_*, x_shard_assign, x_bucketed_join) with the
        range-layout audit."""
        o = tables(spark, sf_dir)["orders"].select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            "o_orderkey",
        )
        smp = o.where(
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % _RPB_MOD
            == 0
        )
        ranked, sn = with_global_row_number(
            smp, [F.col("cents"), F.col("o_orderkey")], alias="rn"
        )
        positions = sorted(
            {max(1, (i * sn) // _RPB_K) for i in range(1, _RPB_K)}
        )
        bnd = (
            ranked.where(F.col("rn").isin(positions))
            .select(F.col("cents").alias("b"))
            .distinct()
        )
        from pyspark.sql import Window

        iv = bnd.select(
            F.col("b").alias("lo"),
            F.lead("b").over(Window.orderBy("b")).alias("hi"),
        ).unionByName(
            bnd.agg(F.min("b").alias("hi")).select(
                F.lit(None).cast("long").alias("lo"), "hi"
            )
        )
        ivb = iv.withColumn(
            "bucket",
            F.row_number()
            .over(Window.orderBy(F.col("lo").asc_nulls_first()))
            .cast("long"),
        )
        asg = o.join(
            F.broadcast(ivb),
            (F.col("lo").isNull() | (F.col("cents") >= F.col("lo")))
            & (F.col("hi").isNull() | (F.col("cents") < F.col("hi"))),
        )
        tot = o.agg(F.count("*").cast("long").alias("n"))
        nb = ivb.agg(F.count("*").cast("long").alias("nbuckets"))
        return (
            asg.groupBy("bucket")
            .agg(
                F.min("lo").alias("lo"),
                F.min("hi").alias("hi"),
                F.count("*").cast("long").alias("n_rows"),
                F.min("cents").alias("min_cents"),
                F.max("cents").alias("max_cents"),
            )
            .crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(nb))
            .select(
                "bucket",
                "lo",
                "hi",
                "n_rows",
                "min_cents",
                "max_cents",
                F.expr("(n_rows * 1000000) DIV n").alias("share_ppm"),
                F.expr(
                    "(ABS(n_rows * nbuckets - n) * 1000000) DIV (n * nbuckets)"
                ).alias("dev_ppm"),
            )
            .orderBy("bucket")
        )

    x_range_partition_balance.__doc__ = (
        x_range_partition_balance.__doc__.replace("{m}", str(_RPB_MOD))
        .replace("{k}", str(_RPB_K))
    )


_register()
