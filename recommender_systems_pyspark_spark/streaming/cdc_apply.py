"""Streaming CDC materialization — applying a change-data-capture feed
(upserts AND deletes, version-ordered) to a keyed serving table via
``foreachBatch``. The missing third of the streaming-maintenance story:
s9 certifies additive upserts, s11 certifies restart recovery; this
certifies LAST-WRITER-WINS semantics with tombstones — the shape a
Debezium/Delta-CDF consumer actually materializes.

The merge is commutative-associative by construction — per key, the
winner is the row with the MAX version (versions are globally unique),
op counts are additive, and DELETE winners persist as tombstones in the
stored state (dropping them early would let a lower-version upsert in a
later micro-batch resurrect the key). Batch boundaries therefore cannot
change the final state, which is why a full SQL oracle (one-shot
``arg_max`` over the whole feed) can hash-certify a real 4-micro-batch
stream.

Scale shape (100 TB feed): each micro-batch shuffles only its own rows
(key-partitioned, map-side max_by); the state merge is one key-equi full
outer join per batch against a keyed store (Delta/Iceberg MERGE at
production scale — the write-new-and-swap here stands in for that
transactional commit). Tombstones are compacted away on read, exactly
like a log-structured table's.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .engine import drain
from .staging import stage_ordered_files, state_sized_partitions

#: CDC op derivation: every 7th version is a DELETE for its key.
_DELETE_MOD = 7
_N_BATCHES = 4


def changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic changefeed: one op per event — key = user_id,
    version = event_id (globally unique), op = DELETE on every
    ``_DELETE_MOD``-th version else UPSERT of ``value``."""
    return load_table(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("event_id").alias("version"),
        F.col("value"),
        F.when(F.col("event_id") % _DELETE_MOD == 0, "D").otherwise("U").alias("op"),
    )


def _read_epoch(state_dir: str) -> int:
    """Last applied foreachBatch epoch, from the ``_epoch`` marker the
    state swap publishes alongside the parquet (underscore-prefixed →
    invisible to Spark's reader). -1 before the first batch."""
    marker = os.path.join(state_dir, "_epoch")
    if not os.path.exists(marker):
        return -1
    with open(marker) as f:
        return int(f.read().strip())


def apply_cdc_batch(batch_df: DataFrame, state_dir: str, epoch_id: int = 0) -> None:
    """Apply one micro-batch of CDC ops: per key, reduce the batch to its
    max-version row (map-side ``max_by``), then last-writer-wins merge
    against the stored state. DELETE winners are KEPT as tombstones.

    Idempotent under foreachBatch's at-least-once retry semantics
    (ADVICE r9): the state records the last applied ``epoch_id``, and a
    replayed batch (same or older epoch) is skipped — without this, the
    version/LWW columns would survive a replay but the additive
    ``n_ops`` counter would double-count. The swap keeps the previous
    state as ``_old`` until the new directory is in place, so a crash
    mid-swap leaves a recoverable directory at every step (the remaining
    non-atomicity — rename-new then drop-old are two syscalls — is what
    a real table format's transactional MERGE/metadata swap removes;
    this local-FS store documents that boundary rather than hiding it)."""
    if epoch_id <= _read_epoch(state_dir):
        return  # replayed batch — already folded into the state
    spark = batch_df.sparkSession
    inc = batch_df.groupBy("user_id").agg(
        F.max("version").alias("i_version"),
        F.max_by(F.struct("op", "value"), "version").alias("i_last"),
        F.count("*").alias("i_ops"),
    )
    if os.path.exists(state_dir):
        prev = spark.read.parquet(state_dir)
        newer = F.col("i_version").isNotNull() & (
            F.col("version").isNull() | (F.col("i_version") > F.col("version"))
        )
        zero = F.lit(0).cast("long")
        merged = prev.join(inc, "user_id", "full").select(
            "user_id",
            F.when(newer, F.col("i_version")).otherwise(F.col("version")).alias(
                "version"
            ),
            F.when(newer, F.col("i_last.op")).otherwise(F.col("op")).alias("op"),
            F.when(newer, F.col("i_last.value")).otherwise(F.col("value")).alias(
                "value"
            ),
            (F.coalesce("n_ops", zero) + F.coalesce("i_ops", zero)).alias("n_ops"),
        )
    else:
        merged = inc.select(
            "user_id",
            F.col("i_version").alias("version"),
            F.col("i_last.op").alias("op"),
            F.col("i_last.value").alias("value"),
            F.col("i_ops").alias("n_ops"),
        )
    tmp = state_dir + "_new"
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_epoch"), "w") as f:
        f.write(str(epoch_id))
    old = state_dir + "_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(state_dir):
        os.rename(state_dir, old)  # previous state stays recoverable
    os.rename(tmp, state_dir)
    if os.path.exists(old):
        shutil.rmtree(old)


@query(
    "s12_cdc_apply",
    oracle=f"""
    WITH feed AS (
      SELECT user_id, event_id AS version, value,
             CASE WHEN event_id % {_DELETE_MOD} = 0 THEN 'D' ELSE 'U' END AS op
      FROM events
    ),
    state AS (
      SELECT user_id,
             MAX(version) AS last_version,
             arg_max(value, version) AS last_value,
             arg_max(op, version) AS last_op,
             COUNT(*) AS n_ops
      FROM feed GROUP BY user_id
    )
    SELECT user_id, last_version, last_value, n_ops
    FROM state WHERE last_op <> 'D'
    ORDER BY user_id
    """,
)
def s12_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the changefeed through a REAL 4-micro-batch stream (version-
    quartile files, maxFilesPerTrigger=1) applying last-writer-wins CDC
    with tombstoned deletes, and return the final serving table (deleted
    keys absent). The oracle is the one-shot ``arg_max`` over the whole
    feed — equality certifies the incremental materialization converges
    to the batch answer regardless of micro-batch boundaries."""
    with (
        tempfile.TemporaryDirectory(prefix="s12_cdc_", ignore_cleanup_errors=True) as d,
        state_sized_partitions(spark),
    ):
        src, state = f"{d}/src", f"{d}/state"
        feed = changefeed(spark, sf_dir)
        # stage version-quartile files with increasing mtimes so the file
        # source replays the feed in version order — via the SHARED
        # single-pass stager (ADVICE r14 #1/#2: the inline copy dropped
        # stage_ordered_files' empty-span fallback — a sparse version
        # space would IndexError where the old per-batch writer staged a
        # 0-row parquet — and its non-negative-key guard, under which a
        # negative version would silently land in batch 0 where the old
        # range predicates dropped it). Identical DIV-span arithmetic;
        # the per-batch max_by fold is row-order-insensitive.
        stage_ordered_files(feed, "version", _N_BATCHES, src)
        stream = (
            spark.readStream.schema(
                "user_id bigint, version bigint, value double, op string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # per-batch shuffles (state read ∪ batch → grouped max_by → state
        # write) run at the state-sized width of the scope above
        drain(
            stream.writeStream.foreachBatch(
                lambda batch_df, epoch_id: apply_cdc_batch(batch_df, state, epoch_id)
            ).option("checkpointLocation", f"{d}/ck")
        )
        final = (
            spark.read.parquet(state)
            .where(F.col("op") != "D")
            .select(
                "user_id",
                F.col("version").alias("last_version"),
                F.col("value").alias("last_value"),
                "n_ops",
            )
            .orderBy("user_id")
        )
        return final.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Changelog net-effect compaction (round 13)
# ---------------------------------------------------------------------------

#: Deterministic base-snapshot membership: keys with user_id % 3 == 0
#: existed in the serving table BEFORE this changelog window.
_NET_BASE_MOD = 3


@query(
    "x_cdc_net_effect",
    oracle=f"""
    WITH feed AS (
      SELECT user_id,
             event_id AS version,
             value,
             CASE WHEN event_id % {_DELETE_MOD} = 0 THEN 'D' ELSE 'U' END AS op
      FROM events
    ),
    collapsed AS (
      SELECT user_id,
             arg_max(op, version) AS last_op,
             arg_max(value, version) AS last_value,
             MAX(version) AS last_version,
             COUNT(*) AS n_src
      FROM feed GROUP BY 1
    ),
    net AS (
      SELECT *,
             CASE
               WHEN last_op = 'U' AND user_id % {_NET_BASE_MOD} = 0
                 THEN 'UPDATE'
               WHEN last_op = 'U' THEN 'INSERT'
               WHEN user_id % {_NET_BASE_MOD} = 0 THEN 'DELETE'
               ELSE 'NOOP'
             END AS net_op
      FROM collapsed
    )
    SELECT net_op,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_src) AS BIGINT) AS n_src_ops,
           CAST(COALESCE(SUM(CASE WHEN net_op IN ('UPDATE', 'INSERT')
                 THEN CAST(floor(last_value * 100 + 0.5) AS BIGINT) END), 0)
                AS BIGINT) AS final_value_cents,
           CAST(bit_xor(last_version) AS BIGINT) AS versions_xor
    FROM net GROUP BY 1 ORDER BY 1
    """,
)
def x_cdc_net_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog NET-EFFECT compaction — the batch pre-pass that turns a
    raw CDC window (every upsert and delete, s12's feed verbatim) into
    at most ONE effective operation per key BEFORE the expensive MERGE:
    per key the last-writer op wins, and its meaning depends on whether
    the key existed in the base snapshot — U→UPDATE (existed) or INSERT
    (new), D→DELETE (existed) or NOOP (created and destroyed entirely
    within the window, touching the target zero times). Emits per
    net-op class: key count, source ops collapsed (the compaction
    ratio's numerator), exact-cents sum of final upsert values, and an
    order-independent xor of winning versions.

    A MERGE joins the target per SOURCE ROW; at 100 TB feeds with hot
    keys the net-effect pass cuts that join's probe side to |keys| and
    drops NOOP churn before it ever reaches the table — the standard
    Debezium/Delta-CDF consumer optimization. Plan: one map-side
    max_by/count aggregation over the feed (uniform user keys), the
    base-membership predicate is computed, not joined; then a
    constant-size class rollup. s12 certifies APPLY semantics
    (last-writer-wins with tombstones); this face certifies the
    compaction that makes apply affordable.
    """
    feed = changefeed(spark, sf_dir)
    collapsed = feed.groupBy("user_id").agg(
        F.max_by("op", "version").alias("last_op"),
        F.max_by("value", "version").alias("last_value"),
        F.max("version").alias("last_version"),
        F.count("*").alias("n_src"),
    )
    in_base = F.col("user_id") % _NET_BASE_MOD == 0
    net = collapsed.withColumn(
        "net_op",
        F.when((F.col("last_op") == "U") & in_base, "UPDATE")
        .when(F.col("last_op") == "U", "INSERT")
        .when(in_base, "DELETE")
        .otherwise("NOOP"),
    )
    return (
        net.groupBy("net_op")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("n_src").cast("long").alias("n_src_ops"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("net_op").isin("UPDATE", "INSERT"),
                        F.floor(F.col("last_value") * 100 + F.lit(0.5)).cast(
                            "long"
                        ),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("final_value_cents"),
            F.expr("bit_xor(last_version)").cast("long").alias("versions_xor"),
        )
        .orderBy("net_op")
    )
