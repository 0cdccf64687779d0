"""COMPLETE-output-mode streaming aggregation (round 11): the running
leaderboard — the one Structured Streaming output mode no other face
exercises (append: s1-s3/s10/s15/s16; update: s4/s14; foreachBatch:
s9/s11/s12). Complete mode re-emits the ENTIRE aggregate every trigger,
which is what powers live dashboards/leaderboards: the sink always holds
a full, consistent snapshot, and because the mode requires the full
result anyway, no watermark is needed and late data can never be
dropped.

Reference contrast: the app recomputes its "top movies" board from a
full table scan per Streamlit interaction (app.py — the popular-movies
panel); complete mode is the push equivalent: the sink always holds the
refreshed leaderboard without a reader-side recompute. The reference
has no streaming at all (SURVEY.md §2.10).

Certifiable because the aggregate is commutative integer math: the final
trigger's full snapshot must equal the one-shot batch aggregate over the
whole feed regardless of micro-batch boundaries. The top-k ranking is
applied to the final snapshot (exactly how a dashboard reads the sink) —
with the engine's standard unique-key tiebreaker so the LIMIT set is
total-ordered.

Scale: complete mode is the EXPENSIVE mode by design — state and
re-emission are O(|groups|), so it is only correct for bounded-key
aggregates (user leaderboards, per-type counters). The per-batch work is
still incremental (partial aggregation into the state store); only the
SINK write is full-size. For unbounded keys use update/append + an
external serving store — documented contrast, same plan otherwise.
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

_TOPK = 10
_N_BATCHES = 4


def running_leaderboard(events: DataFrame) -> DataFrame:
    """The complete-mode aggregate: exact integer cents per user."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value_cents").alias("cents_total"),
    )


@query(
    "s17_stream_topk_complete",
    oracle=f"""
    SELECT user_id, n_events, cents_total FROM (
      SELECT user_id,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents_total
      FROM events GROUP BY user_id
    )
    ORDER BY cents_total DESC, user_id
    LIMIT {_TOPK}
    """,
)
def s17_stream_topk_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the per-user leaderboard as a REAL 4-micro-batch stream in
    COMPLETE output mode and return the top-{k} users by exact cents
    from the final snapshot. The oracle is the one-shot grouped sum +
    top-{k}: hash equality certifies that the final complete-mode
    emission is the full, boundary-independent aggregate (nothing
    truncated to the last batch, nothing double-counted across
    re-emissions)."""
    with (
        tempfile.TemporaryDirectory(prefix="s17_topk_", ignore_cleanup_errors=True) as d,
        state_sized_partitions(spark),
    ):
        feed = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        stage_ordered_files(feed, "event_id", _N_BATCHES, os.path.join(d, "src"))
        stream = (
            spark.readStream.schema(
                "event_id bigint, user_id bigint, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "src"))
            .select(
                "user_id",
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
                .alias("value_cents"),
            )
        )
        sink = "s17_stream_topk_complete_sink"
        drain(
            running_leaderboard(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
        )
        return (
            spark.table(sink)
            .orderBy(F.desc("cents_total"), "user_id")
            .limit(_TOPK)
            .select("user_id", "n_events", "cents_total")
            .localCheckpoint(eager=True)
        )


s17_stream_topk_complete.__doc__ = s17_stream_topk_complete.__doc__.format(
    k=_TOPK
)
