"""Streaming ``foreachBatch`` merge-upsert — the canonical Structured
Streaming pattern for maintaining a keyed serving table without a
transactional sink format: the raw stream passes through unaggregated
(no state store), andeach micro-batch is aggregated AS A BATCH inside the
``foreachBatch`` callback, then merged into the target table by key.

SURVEY.md §2.10 extension (the reference has no streaming). Unlike
s1–s3 (batch twins of windowed aggregations) and s4 (live stream,
rows-only), this query runs the REAL multi-micro-batch stream inside the
correctness gate and carries a FULL SQL oracle: because the per-user
counts are integers and the value totals accumulate in DECIMAL(18,6)
(associative addition), the final upserted state is independent of how
the file source splits micro-batches — and must hash-equal the one-shot
batch aggregate the oracle computes.

Scale shape: each micro-batch shuffles only ITS OWN rows (uniform
user_id key, map-side combinable), and the merge is a key-equi full
outer join against the current state — at production scale the state
table lives in a keyed store (Delta/Iceberg MERGE, or a bucketed table
co-located on the key) and the merge never rescans history. The swap
(write-new, atomic rename) stands in for the transactional commit those
formats provide.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query, sql_exact_sum
from ..sources import load_table
from .engine import drain
from .staging import stage_keyed_files, state_sized_partitions


def upsert_batch(batch_df: DataFrame, state_dir: str) -> None:
    """Merge one micro-batch's per-user aggregates into the state table.

    Aggregation happens HERE (batch context), not on the stream — so no
    streaming state store is involved and any output mode is legal. The
    decimal accumulator keeps the merge associative: (prev + inc) totals
    are exact, so batch boundaries cannot change the final state.
    """
    spark = batch_df.sparkSession
    inc = batch_df.groupBy("user_id").agg(
        F.count("*").alias("i_n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("i_tot"),
    )
    if os.path.exists(state_dir):
        prev = spark.read.parquet(state_dir)
        zero_n = F.lit(0).cast("long")
        zero_t = F.lit(0).cast("decimal(28,6)")
        merged = (
            prev.join(inc, "user_id", "full")
            .select(
                "user_id",
                (F.coalesce("n_events", zero_n) + F.coalesce("i_n", zero_n)).alias(
                    "n_events"
                ),
                (F.coalesce("total_dec", zero_t) + F.coalesce("i_tot", zero_t))
                .cast("decimal(28,6)")
                .alias("total_dec"),
            )
        )
    else:
        merged = inc.select(
            "user_id",
            F.col("i_n").alias("n_events"),
            F.col("i_tot").cast("decimal(28,6)").alias("total_dec"),
        )
    # write-new + atomic swap: never overwrite the directory a lazy read
    # may still be scanning (the transactional-commit stand-in).
    tmp = state_dir + "_new"
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(state_dir):
        shutil.rmtree(state_dir)
    os.rename(tmp, state_dir)


@query(
    "s9_foreach_upsert",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events,
           {sql_exact_sum('value', 'total_value')}
    FROM events
    GROUP BY user_id
    """,
)
def s9_foreach_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the events fixture through a REAL multi-micro-batch stream
    (4 staged files, maxFilesPerTrigger=1 → 4 micro-batches) with a
    foreachBatch merge-upsert, and return the final per-user state table.
    The oracle is the one-shot batch aggregate — equality certifies that
    the incremental upsert path converges to the batch answer regardless
    of micro-batch boundaries (the associative-decimal-merge contract)."""
    with (
        tempfile.TemporaryDirectory(prefix="s9_upsert_", ignore_cleanup_errors=True) as d,
        state_sized_partitions(spark),
    ):
        src, state = f"{d}/src", f"{d}/state"
        load_table(spark, sf_dir, "events").select("user_id", "value").repartition(
            4
        ).write.mode("overwrite").parquet(src)
        # same stream lifetime s11 runs
        _run_upsert_stream(spark, src, state, f"{d}/ck")
        final = spark.read.parquet(state).select(
            "user_id",
            "n_events",
            F.col("total_dec").cast("double").alias("total_value"),
        )
        # pin the (tiny, user-cardinality) result to blocks so the temp
        # dirs can be deleted before the caller's action runs
        return final.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Checkpoint restart recovery (round 8)
# ---------------------------------------------------------------------------


def _stage_user_files(spark: SparkSession, sf_dir: str, src: str, buckets) -> None:
    """Stage ``user_id % 4 == i`` slices as single-file parquets with
    strictly increasing mtimes (file-source order is mtime-based) — ONE
    partitioned write per call instead of len(buckets) filtered re-scans
    (the shared stager, guide §1.2/§6; it also stages a 0-row file for an
    empty residue class where the old loop raised IndexError)."""
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    stage_keyed_files(ev, F.col("user_id") % 4, buckets, src)


def _run_upsert_stream(spark: SparkSession, src: str, state: str, ck: str) -> None:
    """One stream lifetime against ``src``: file source (1 file per
    micro-batch) → foreachBatch merge-upsert → graceful stop. Callers run
    it inside ``state_sized_partitions``, so the per-batch shuffles (batch
    agg + state merge join + state write) run at state-volume width, not
    session width."""
    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain(
        stream.writeStream.foreachBatch(
            lambda batch_df, _id: upsert_batch(batch_df, state)
        ).option("checkpointLocation", ck)
    )


@query(
    "s11_restart_recovery",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events,
           {sql_exact_sum('value', 'total_value')}
    FROM events
    GROUP BY user_id
    """,
)
def s11_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-and-resume ingest certification: run the s9 foreachBatch
    merge-upsert over HALF the staged files, STOP the query, then start a
    brand-new query object on the SAME checkpoint with the remaining
    files landed — the checkpointed file-source offsets must make the
    second lifetime ingest exactly the unseen files, so the final state
    hash-equals the one-shot batch aggregate: nothing lost across the
    restart, nothing double-ingested.

    This is the recovery half of the exactly-once contract that s9's
    single-lifetime run cannot exercise: the checkpoint (source offsets +
    batch id) is the ONLY carrier of progress between the two lifetimes.
    A graceful stop commits the last batch's offsets; crash-interrupted
    foreachBatch additionally requires the sink write to be idempotent or
    transactional per batch-id (upsert_batch's write-new + atomic swap is
    the stand-in; production uses Delta/Iceberg MERGE keyed on batchId).

    Scale shape: identical to s9 — per-batch shuffles of that batch's own
    rows, key-equi merge against the state table."""
    with (
        tempfile.TemporaryDirectory(prefix="s11_restart_", ignore_cleanup_errors=True) as d,
        state_sized_partitions(spark),
    ):
        src, state, ck = f"{d}/src", f"{d}/state", f"{d}/ck"
        # lifetime 1: only buckets 0,1 exist
        _stage_user_files(spark, sf_dir, src, (0, 1))
        _run_upsert_stream(spark, src, state, ck)
        # land the rest, then resume from the SAME checkpoint with a new
        # query object (fresh readStream/writeStream — nothing in-memory
        # survives; only the checkpoint carries progress)
        _stage_user_files(spark, sf_dir, src, (2, 3))
        _run_upsert_stream(spark, src, state, ck)
        final = spark.read.parquet(state).select(
            "user_id",
            "n_events",
            F.col("total_dec").cast("double").alias("total_value"),
        )
        return final.localCheckpoint(eager=True)
