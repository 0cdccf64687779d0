"""As-of and range joins (SURVEY.md §2.3 lists both as absent from the
reference — extension targets for a complete engine).

Scale notes:
- The as-of join is NOT implemented as a join at all: joining purchases to
  all prior clicks and ranking would shuffle |purchases|×|clicks-per-user|
  rows. Instead both sides union into one stream, shuffle ONCE by user_id,
  and a running ``last(click_ts, ignorenulls)`` window carries the as-of
  value forward — linear in input size, one shuffle, no skew amplification
  (a hot user costs its own row count, not its click×purchase product).
- The range join broadcasts the band dimension (bands are bounded and tiny
  at every scale factor) so the fact side never shuffles:
  BroadcastNestedLoopJoin over a handful of band rows is a map-side stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..registry import query, sql_exact_sum, exact_sum
from ..sources import tables
from ..sources.sinks import rows_frame


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    value_col: str,
    direction: str = "backward",
) -> DataFrame:
    """Generic as-of join: for each left row, the ``value_col`` of the
    right row whose ``right_ts`` is latest at-or-before ``left_ts``
    (``backward``, DuckDB's ``ASOF JOIN … >=``) or earliest at-or-after
    (``forward``), matched within ``on``; NULL when no such row. Output is
    every left row + one ``value_col`` column.

    Implementation (the module-docstring scale argument): both sides union
    into one stream, ONE shuffle on ``on``, and a running
    last-ignoring-nulls window carries the as-of value — linear cost, no
    per-key click×purchase blowup. Equal timestamps match (right row sorts
    before the left probe at the same ts in both directions).

    Property-tested against a brute-force Python reference on randomized
    inputs (tests/test_properties.py) in both directions, on top of j6's
    DuckDB ASOF JOIN oracle for the backward form.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    ts_type = dict(left.dtypes)[left_ts]
    r = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.col(value_col).alias("__v"),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(t).alias(f"__l_{c}") for c, t in left.dtypes],
    )
    l = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(None).cast(dict(right.dtypes)[value_col]).alias("__v"),
        F.lit(1).alias("__is_left"),
        *[F.col(c).alias(f"__l_{c}") for c, _ in left.dtypes],
    )
    order = (
        [F.col("__ts").asc(), F.col("__is_left").asc()]
        if direction == "backward"
        else [F.col("__ts").desc(), F.col("__is_left").asc()]
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l.unionByName(r).withColumn(
        "__asof", F.last("__v", ignorenulls=True).over(w)
    )
    return merged.where(F.col("__is_left") == 1).select(
        *[F.col(f"__l_{c}").alias(c) for c, _ in left.dtypes],
        F.col("__asof").alias(f"asof_{value_col}"),
    )


@query(
    "j6_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def j6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase, the latest click by the same user
    at-or-before the purchase time (NULL when none). Implemented as
    union → single shuffle by user_id → running last-ignoring-nulls
    window; ties (click at the exact purchase ts) sort before the
    purchase so ``>=`` semantics match DuckDB's ASOF JOIN."""
    ev = tables(spark, sf_dir)["events"]
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_col="ts",
    ).withColumnRenamed("asof_ts", "last_click_ts")


#: Price bands for the range join — the tiny always-broadcast dimension.
PRICE_BANDS = (
    ("budget", 0.0, 100_000.0),
    ("mid", 100_000.0, 250_000.0),
    ("premium", 250_000.0, 400_000.0),
    ("luxury", 400_000.0, 1e18),
)

_BANDS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in PRICE_BANDS)


@query(
    "j7_range_join",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES {_BANDS_SQL})
    SELECT b.band, COUNT(*) AS n_orders,
           {sql_exact_sum('o.o_totalprice', 'band_revenue')}
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def j7_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: orders against price bands via a non-equi
    condition. The band table is explicitly broadcast — the physical plan
    is BroadcastNestedLoopJoin over 4 rows, i.e. a map-only stage on the
    fact side; the groupBy is the only shuffle."""
    o = tables(spark, sf_dir)["orders"]
    bands = rows_frame(
        spark, list(PRICE_BANDS), StructType.fromDDL("band string, lo double, hi double")
    )
    joined = o.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    return joined.groupBy("band").agg(
        F.count("*").alias("n_orders"),
        exact_sum(F.col("o_totalprice"), "band_revenue"),
    )


@query(
    "j8_asof_forward",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS next_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def j8_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for every purchase, the EARLIEST click by the
    same user at-or-after the purchase (the follow-up-action lookup; NULL
    when none). Same union → one shuffle → running-window plan as j6,
    with the scan order reversed — certified against DuckDB's forward
    ``ASOF LEFT JOIN … <=``."""
    ev = tables(spark, sf_dir)["events"]
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_col="ts",
        direction="forward",
    ).withColumnRenamed("asof_ts", "next_click_ts")


@query(
    "j9_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN c.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL '1 hour'
                THEN c.ts END AS recent_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def j9_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a 1-hour tolerance (pandas
    ``merge_asof(tolerance=...)`` semantics): the latest prior click
    counts only when it happened within the hour before the purchase —
    stale matches become NULL instead of attributing week-old clicks.
    The tolerance is a post-filter on the as-of value, so the plan is
    identical to j6's single-shuffle running window."""
    ev = tables(spark, sf_dir)["events"]
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    matched = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_col="ts",
    )
    # TIMESTAMP_NTZ has no BIGINT cast; timestamp subtraction yields a
    # day-time interval directly comparable to an interval literal
    within = F.col("asof_ts").isNotNull() & F.expr(
        "ts - asof_ts <= INTERVAL '1' HOUR"
    )
    return matched.select(
        "event_id",
        "user_id",
        "ts",
        F.when(within, F.col("asof_ts")).alias("recent_click_ts"),
    )
