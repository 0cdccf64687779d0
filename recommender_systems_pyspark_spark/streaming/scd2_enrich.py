"""Streaming bitemporal enrichment — joining a fact stream to the SCD2
dimension version valid at each fact's OWN timestamp, per micro-batch.

The streaming face of ``x_scd2_event_enrich``: the dimension history is
a static (batch) relation built once per publish; the purchase facts
arrive as a REAL multi-micro-batch stream and each batch is enriched
with the user-keyed interval join inside ``foreachBatch``. Because every
fact joins independently (the dimension is static for the stream's
lifetime), batch boundaries cannot change the result — the accumulated
enriched rows must hash-equal the one-shot batch bitemporal join, which
is exactly the oracle.

This is the pattern a production fact pipeline runs continuously:
dimension snapshots versioned and slowly changing, facts streaming, the
enrichment point-in-time-correct rather than stamped with today's
attributes. Scale shape: the history side is dimension-sized (orders of
magnitude under the fact side) and broadcast- or bucket-joinable; each
micro-batch shuffles only its own facts on the user key.
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

_N_BATCHES = 4


def enrich_batch(batch_df: DataFrame, hist: DataFrame, out_dir: str) -> None:
    """Enrich one micro-batch of facts against the static SCD2 history
    (user-keyed equi join, half-open validity range as the residual
    predicate) and append the enriched rows to the result table."""
    enriched = (
        batch_df.join(hist, "user_id")
        .where(
            (F.col("valid_from") <= F.col("ts"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
        )
        .select("event_id", "user_id", "ts", "state_type", "state_version")
    )
    enriched.write.mode("append").parquet(out_dir)


@query(
    "s13_stream_scd2_enrich",
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
def s13_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the purchase facts through a REAL 4-micro-batch stream
    (event-id-quartile files, maxFilesPerTrigger=1), bitemporally
    enriching each batch against the static SCD2 history inside
    ``foreachBatch``, and return the accumulated enriched rows. The
    oracle is the one-shot batch bitemporal join (same as
    ``x_scd2_event_enrich``) — equality certifies the streaming path
    converges to the batch answer regardless of micro-batch boundaries."""
    from ..functions.warehouse import scd2_history

    with (
        tempfile.TemporaryDirectory(prefix="s13_scd2_", ignore_cleanup_errors=True) as d,
        state_sized_partitions(spark),
    ):
        src, out = f"{d}/src", f"{d}/out"
        ev = load_table(spark, sf_dir, "events")
        # static dimension history, pinned for the stream's lifetime
        hist = (
            scd2_history(ev)
            .select(
                "user_id",
                F.col("event_type").alias("state_type"),
                F.col("version").cast("bigint").alias("state_version"),
                "valid_from",
                "valid_to",
            )
            .localCheckpoint(eager=True)
        )
        facts = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        # ONE partitioned write instead of _N_BATCHES filtered re-scans —
        # the r14 staging rewrite (guide §1.2/§6) that this face missed;
        # stage_ordered_files is the identical DIV-span arithmetic plus
        # the empty-span fallback and non-negative-key guard. Each batch
        # is enriched independently (static dimension), so within-file
        # row order cannot change the accumulated result.
        stage_ordered_files(facts, "event_id", _N_BATCHES, src)
        stream = (
            spark.readStream.schema("event_id bigint, user_id bigint, ts timestamp_ntz")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        drain(
            stream.writeStream.foreachBatch(
                lambda batch_df, _id: enrich_batch(batch_df, hist, out)
            ).option("checkpointLocation", f"{d}/ck")
        )
        final = spark.read.parquet(out).orderBy("event_id")
        return final.localCheckpoint(eager=True)
