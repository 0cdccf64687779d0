"""Chained stateful streaming aggregation (round 11): hourly window →
daily window re-aggregation inside ONE streaming query — the
multiple-stateful-operator pipeline (SPARK-40925, Spark ≥ 3.4) no other
face exercises. Every prior streaming query here carries exactly one
stateful operator; real metric pipelines chain them (raw → minutely →
hourly → daily) so each tier's state stays small and the sink receives
only finalized coarse rows.

Reference contrast: the app has no streaming (SURVEY.md §2.10) and
aggregates ratings per interaction from scratch; the cascade is the
standing-pipeline equivalent of its hourly/daily rollup needs.

Semantics certified by the oracle replay:

- Tier 1 holds (hour, event_type) state; a window finalizes (emits
  downstream, in append mode) when the eviction watermark passes its
  end.
- Tier 2 consumes the finalized hourly rows — its event-time column is
  ``window_time(w1)`` (the hourly window's end minus one tick) — and
  finalizes a (day, event_type) row when the watermark passes the DAY
  end. ``processAllAvailable`` runs the cascading no-data flush batches
  that let the final watermark advance drain BOTH tiers.
- Emitted set: exactly the days whose end ≤ final watermark
  (ms-floored global max ts − delay). The staged feed is ts-monotone
  across batches (asserted — same contract as s15), so no row is ever
  late and the admit/evict two-watermark split (SPARK-40925, modeled
  explicitly by s10's oracle) cannot drop anything here: the oracle is
  a pure one-shot GROUP BY over the closed days.

Values fold as integer cents (the engine's one-rounding-rule
``floor(x·100+0.5)``) so both tiers' sums are order- and
batch-boundary-independent bigints.

Scale: tier-1 state is (hours-in-horizon × event types) rows; tier-2
state is (days-in-horizon × event types) — each micro-batch shuffles
only its own rows into each tier's hash aggregate with map-side
partials. The chain moves the sink from ~24× smaller: this is the
pre-aggregation cascade a 100 TB metrics pipeline uses to keep its
serving store write rate sane.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .engine import drain
from .staging import stage_ordered_files, state_sized_partitions

_DELAY = "53 minutes"  # off the hour/day grid, same device as s10's 97
_N_BATCHES = 4


def hour_day_rollup(events: DataFrame) -> DataFrame:
    """Attach the two-tier window cascade to an event stream. ``events``
    needs (ts TIMESTAMP, event_type, value_cents)."""
    hourly = (
        events.withWatermark("ts", _DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(
            F.count("*").alias("n1"),
            F.sum("value_cents").alias("c1"),
        )
    )
    return (
        hourly.groupBy(
            F.window(F.window_time("w1"), "1 day").alias("w2"), "event_type"
        )
        .agg(F.sum("n1").alias("n_events"), F.sum("c1").alias("cents_total"))
        .select(
            F.col("w2.start").alias("window_start"),
            "event_type",
            "n_events",
            "cents_total",
        )
    )


@query(
    "s16_stream_hour_day_rollup",
    oracle=f"""
    WITH fw AS (
      SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL '{_DELAY}' AS wm
      FROM events
    )
    SELECT date_trunc('day', e.ts) AS window_start,
           e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_total
    FROM events e, fw
    WHERE date_trunc('day', e.ts) + INTERVAL 1 DAY <= fw.wm
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def s16_stream_hour_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the hourly→daily cascade as a REAL 4-micro-batch stream over
    the events fixture and return every FINALIZED daily row. The oracle
    is the one-shot daily GROUP BY restricted to days closed by the
    final watermark — hash equality certifies both tiers' finalization
    boundaries and the exact-integer value fold through the chain (the
    fixture's last day stays open and must NOT appear)."""
    with (
        tempfile.TemporaryDirectory(prefix="s16_rollup_", ignore_cleanup_errors=True) as d,
        state_sized_partitions(spark),
    ):
        feed = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        stage_ordered_files(
            feed,
            "event_id",
            _N_BATCHES,
            os.path.join(d, "src"),
            assert_monotone_col="ts",
        )
        stream = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp_ntz, event_type string, "
                "value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "src"))
            .select(
                F.col("ts").cast("timestamp").alias("ts"),
                "event_type",
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
                .alias("value_cents"),
            )
        )
        sink = "s16_stream_hour_day_rollup_sink"
        drain(
            hour_day_rollup(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
        )
        return (
            spark.table(sink)
            .select(
                F.col("window_start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
                "n_events",
                "cents_total",
            )
            .orderBy("window_start", "event_type")
            .localCheckpoint(eager=True)
        )


# ---------------------------------------------------------------------------
# Streaming mergeable-histogram quantiles (round 14)
# ---------------------------------------------------------------------------


def hourly_histogram_sketch(events: DataFrame, width_cents: int) -> DataFrame:
    """Attach the per-hour fixed-boundary histogram sketch to an event
    stream: one watermarked stateful groupBy on (hour window, bin) whose
    APPEND output is the finalized sketch rows — (hour, bin, cnt) — the
    mergeable state every later quantile read re-aggregates. ``events``
    needs (ts TIMESTAMP, value_cents LONG)."""
    return (
        events.withWatermark("ts", _DELAY)
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.expr(f"value_cents DIV {width_cents}").alias("bin"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(F.col("w.start").alias("hour"), "bin", "cnt")
    )


def _sql_s22() -> str:
    from ..operators.stats import _QSK_WIDTH_CENTS as W

    return f"""
    WITH fw AS (
      SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL '{_DELAY}' AS wm
      FROM events
    ),
    ev AS (
      SELECT date_trunc('hour', e.ts) AS hour,
             CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents
      FROM events e, fw
      WHERE date_trunc('hour', e.ts) + INTERVAL 1 HOUR <= fw.wm
    ),
    hist AS (
      SELECT hour, cents // {W} AS bin, COUNT(*) AS cnt FROM ev GROUP BY 1, 2
    ),
    tot AS (SELECT hour, CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY 1),
    cum AS (
      SELECT hour, bin, cnt,
             SUM(cnt) OVER (PARTITION BY hour ORDER BY bin) AS cum
      FROM hist
    ),
    est AS (
      SELECT c.hour,
             CAST(MIN(CASE WHEN c.cum >= (t.n * 50 + 99) // 100
                           THEN c.bin END) * {W} AS BIGINT)
               AS est_p50_cents,
             CAST(MIN(CASE WHEN c.cum >= (t.n * 95 + 99) // 100
                           THEN c.bin END) * {W} AS BIGINT)
               AS est_p95_cents
      FROM cum c JOIN tot t USING (hour) GROUP BY 1
    ),
    rk AS (
      SELECT hour, cents,
             ROW_NUMBER() OVER (PARTITION BY hour ORDER BY cents) AS rn
      FROM ev
    ),
    exact AS (
      SELECT r.hour,
             MIN(CASE WHEN r.rn = (t.n * 50 + 99) // 100
                      THEN r.cents END) AS exact_p50_cents,
             MIN(CASE WHEN r.rn = (t.n * 95 + 99) // 100
                      THEN r.cents END) AS exact_p95_cents
      FROM rk r JOIN tot t USING (hour) GROUP BY 1
    ),
    nb AS (SELECT hour, CAST(COUNT(*) AS BIGINT) AS n_bins FROM hist GROUP BY 1)
    SELECT t.hour, t.n, nb.n_bins,
           est_p50_cents, exact_p50_cents,
           est_p95_cents, exact_p95_cents,
           (exact_p50_cents - est_p50_cents) // {W} AS p50_err_div_width,
           (exact_p95_cents - est_p95_cents) // {W} AS p95_err_div_width
    FROM tot t JOIN nb USING (hour) JOIN est USING (hour)
               JOIN exact USING (hour)
    ORDER BY t.hour
    """


@query("s22_stream_quantile_rollup", oracle=_sql_s22())
def s22_stream_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch maintained BY A STREAM — the streaming
    face of x_quantile_rollup_merge (stats.py), completing the
    sketch-in-streaming story the batch rollups started: the stream
    holds per-(hour, bin) histogram state behind a watermark and emits
    each hour's FINALIZED sketch rows in append mode; p50/p95 are then
    rank statistics read off the emitted sketch — no raw re-scan, and
    any later day/week horizon merges these same rows by count addition.
    This is the 100 TB latency-dashboard architecture: the raw feed is
    touched once by the streaming agg whose state is bins × open hours
    (kilobytes), and every percentile query downstream runs on sketch
    rows.

    Certification: run the real 4-micro-batch stream over the staged
    ts-monotone events fixture (the s15/s16 feed contract), then read
    p50/p95 per closed hour off the sink and join the EXACT rank-DISC
    per-hour statistics recomputed from raw — the pinned
    ``(exact − est) DIV width = 0`` columns make an estimator, merge, or
    finalization regression hash-loud. The oracle replays watermark
    closure (hours whose end ≤ ms-floored max ts − {d}) and the whole
    integer estimator chain; the exact audit tier is fixture-scale only,
    exactly as in the batch twin.

    Scale: the streaming agg shuffles each micro-batch once on (window,
    bin) with map-side partials; the quantile read is a bounded window
    (≤ ~50 bins per hour on this value domain). Chain depth 1 —
    finalized sketches land in a store and EVERY horizon (s16's
    hour→day cascade included) re-aggregates sketch rows, not events."""
    from ..operators.stats import _QSK_WIDTH_CENTS

    with (
        tempfile.TemporaryDirectory(prefix="s22_qsk_", ignore_cleanup_errors=True) as d,
        state_sized_partitions(spark),
    ):
        feed = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "value"
        )
        stage_ordered_files(
            feed,
            "event_id",
            _N_BATCHES,
            os.path.join(d, "src"),
            assert_monotone_col="ts",
        )
        stream = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp_ntz, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "src"))
            .select(
                F.col("ts").cast("timestamp").alias("ts"),
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
                .alias("value_cents"),
            )
        )
        sink = "s22_stream_quantile_rollup_sink"
        drain(
            hourly_histogram_sketch(stream, _QSK_WIDTH_CENTS)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
        )
        from pyspark.sql import Window

        hist = spark.table(sink).select(
            F.col("hour").cast("timestamp_ntz").alias("hour"), "bin", "cnt"
        )
        tot = hist.groupBy("hour").agg(
            F.sum("cnt").cast("long").alias("n"),
            F.count("*").cast("long").alias("n_bins"),
        )
        cum = hist.withColumn(
            "cum", F.sum("cnt").over(Window.partitionBy("hour").orderBy("bin"))
        )
        est = (
            cum.join(F.broadcast(tot), "hour")
            .groupBy("hour")
            .agg(
                (
                    F.min(
                        F.when(
                            F.col("cum") >= F.expr("(n * 50 + 99) DIV 100"),
                            F.col("bin"),
                        )
                    )
                    * _QSK_WIDTH_CENTS
                )
                .cast("long")
                .alias("est_p50_cents"),
                (
                    F.min(
                        F.when(
                            F.col("cum") >= F.expr("(n * 95 + 99) DIV 100"),
                            F.col("bin"),
                        )
                    )
                    * _QSK_WIDTH_CENTS
                )
                .cast("long")
                .alias("est_p95_cents"),
            )
        )
        # exact audit tier from the closed hours of the static feed
        closed = tot.select("hour")
        ev = (
            load_table(spark, sf_dir, "events")
            .select(
                F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour"),
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
            )
            .join(F.broadcast(closed), "hour")
        )
        rk = ev.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("hour").orderBy("cents")),
        )
        exact = (
            rk.join(F.broadcast(tot.select("hour", "n")), "hour")
            .groupBy("hour")
            .agg(
                F.min(
                    F.when(
                        F.col("rn") == F.expr("(n * 50 + 99) DIV 100"),
                        F.col("cents"),
                    )
                ).alias("exact_p50_cents"),
                F.min(
                    F.when(
                        F.col("rn") == F.expr("(n * 95 + 99) DIV 100"),
                        F.col("cents"),
                    )
                ).alias("exact_p95_cents"),
            )
        )
        return (
            tot.join(est, "hour")
            .join(exact, "hour")
            .select(
                "hour",
                "n",
                "n_bins",
                "est_p50_cents",
                "exact_p50_cents",
                "est_p95_cents",
                "exact_p95_cents",
                F.expr(
                    f"(exact_p50_cents - est_p50_cents) DIV {_QSK_WIDTH_CENTS}"
                ).alias("p50_err_div_width"),
                F.expr(
                    f"(exact_p95_cents - est_p95_cents) DIV {_QSK_WIDTH_CENTS}"
                ).alias("p95_err_div_width"),
            )
            .orderBy("hour")
            .localCheckpoint(eager=True)
        )


s22_stream_quantile_rollup.__doc__ = s22_stream_quantile_rollup.__doc__.replace(
    "{d}", _DELAY
)
