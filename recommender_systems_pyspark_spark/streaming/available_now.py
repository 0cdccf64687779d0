"""Trigger.AvailableNow backfill (round 11): the BOUNDED-RUN trigger —
the scheduled-job face of Structured Streaming that no other query
exercises. ``engine.drain`` (every other certified stream here) rests on
``processAllAvailable``, a TEST utility: it blocks a long-lived query
until it drains.
``Trigger.AvailableNow`` is the production backfill contract: the query
plans the data available AT START, processes it in rate-limited
micro-batches (``maxFilesPerTrigger`` still applies), commits the final
offsets, and TERMINATES — the pattern for cron-scheduled incremental
jobs ("catch up on everything new since the last run, then exit") that
replaced the deprecated Trigger.Once (which ignored rate limits and
swallowed everything in one giant batch).

Reference contrast: the app's "refresh" is a destructive batch reload
(utils/data_loader.py:146, mode="overwrite") rerun from scratch;
AvailableNow on a checkpoint is the incremental replacement — each
scheduled run ingests only what is new. The reference has no streaming
at all (SURVEY.md §2.10).

Certified in two lifetimes to prove the incremental-backfill contract,
not just one-shot equivalence:

1. Backfill #1 sees only the first half of the staged files, drains
   them batch-by-batch, and exits on its own (``awaitTermination``, no
   manual stop).
2. More files land. Backfill #2 starts on the SAME checkpoint, ingests
   exactly the unseen files, and exits.

The final upserted state must hash-equal the one-shot batch aggregate
over the whole feed: nothing missed between runs, nothing
double-ingested, offsets carried solely by the checkpoint.

Scale: identical plan shape to s9/s11 (per-batch shuffles of that
batch's own rows; key-equi merge against the serving table). The
trigger choice changes the JOB lifecycle, not the plan — which is
exactly why it deserves its own certified face: teams pick triggers for
operational reasons and must know the answer is invariant.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query, sql_exact_sum
from ..sources import load_table
from .staging import stage_ordered_files, state_sized_partitions

_N_FILES = 4


@query(
    "s18_stream_backfill_available_now",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events,
           {sql_exact_sum('value', 'total_value')}
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def s18_stream_backfill_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two consecutive Trigger.AvailableNow backfills over one
    checkpoint (half the files, exit, land the rest, run again) must
    produce exactly the one-shot per-user aggregate — see the module
    docstring for why the bounded-run trigger is its own face."""
    with (
        tempfile.TemporaryDirectory(prefix="s18_backfill_", ignore_cleanup_errors=True) as d,
        state_sized_partitions(spark),
    ):
        staged, src, out, ck = (
            os.path.join(d, "staged"),
            os.path.join(d, "src"),
            os.path.join(d, "out"),
            os.path.join(d, "ck"),
        )
        os.makedirs(src)
        feed = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        stage_ordered_files(feed, "event_id", _N_FILES, staged)
        batches = sorted(os.listdir(staged))

        def backfill() -> None:
            stream = (
                spark.readStream.schema(
                    "event_id bigint, user_id bigint, value double"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            agg = stream.groupBy("user_id").agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
            )

            def upsert(batch_df: DataFrame, _batch_id: int) -> None:
                # complete-state replace per trigger: the aggregate state
                # is the full running answer, land it atomically
                batch_df.write.mode("overwrite").parquet(out)

            q = (
                agg.writeStream.foreachBatch(upsert)
                .outputMode("complete")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            # AvailableNow terminates ITSELF once the planned files drain
            q.awaitTermination()

        for name in batches[:2]:
            shutil.copy2(f"{staged}/{name}", f"{src}/{name}")
        backfill()
        for name in batches[2:]:
            shutil.copy2(f"{staged}/{name}", f"{src}/{name}")
        backfill()

        return (
            spark.read.parquet(out)
            .select(
                "user_id",
                "n_events",
                F.col("total_dec").cast("double").alias("total_value"),
            )
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )
