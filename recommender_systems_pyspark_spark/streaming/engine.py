"""Structured Streaming runtime for the events stream (SURVEY.md §2.10
extension): file-source → event-time windowed aggregation with watermark →
sink. The transformations are the SAME definitions as streaming.windows —
one logical plan serving batch backfill and continuous processing.

Scale notes: state lives in the state store keyed by (window, group); the
watermark bounds it by evicting windows older than max_event_time - delay.
Late rows within the delay update their window; later ones are dropped —
the knob is ``late_threshold``. For production: RocksDB state store,
checkpoint to durable storage, and `spark.sql.shuffle.partitions` sized to
state volume (state is hash-partitioned by key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Schema of the events stream (streaming sources require explicit schemas —
#: there is no inference mid-stream).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(spark: SparkSession, source_dir: str, fmt: str = "json") -> DataFrame:
    """File-source stream: every new file in source_dir becomes a
    micro-batch (the parquet/json drop-folder pattern; swap for Kafka by
    changing this one reader)."""
    return (
        spark.readStream.format(fmt)
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .load(source_dir)
    )


#: RocksDB state store provider — the production state backend (bounded
#: executor heap: state lives off-heap/on-disk with changelog checkpointing,
#: surviving state far larger than memory; the default in-memory HDFS-backed
#: provider keeps every key's state on the JVM heap).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    *,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka source → typed events stream. Requires the
    spark-sql-kafka-0-10 package on the classpath (config-gated: this
    container ships none, so construction raises a clear error at
    ``load()`` rather than midway through a query). The payload decode is
    :func:`decode_event_payload` — shared with tests, which exercise it on
    batch DataFrames without a broker.

    Scale notes: parallelism = topic partitions; cap per-batch intake with
    ``max_offsets_per_trigger`` so a backlog replay cannot OOM the first
    micro-batch. Offsets live in the checkpoint, not Kafka's consumer
    groups — exactly-once into transactional/idempotent sinks."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return decode_event_payload(reader.load())


def decode_event_payload(kafka_df: DataFrame) -> DataFrame:
    """Kafka wire rows (key/value binary) → typed events: cast value to
    string, parse JSON against EVENTS_SCHEMA. Malformed payloads yield
    null columns (from_json's PERMISSIVE default) instead of killing the
    stream — filter ``event_id IS NULL`` to a dead-letter sink if needed."""
    return (
        kafka_df.select(F.col("value").cast("string").alias("json"))
        .select(F.from_json("json", EVENTS_SCHEMA).alias("e"))
        .select("e.*")
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    late_threshold: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts — the streaming form of
    s1_tumbling_window / s2_sliding_window."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", late_threshold)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", late_threshold: str = "30 minutes") -> DataFrame:
    """Watermarked session windows per user — streaming s3_session_window."""
    return (
        events.withWatermark("ts", late_threshold)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def join_view_click_semi(
    views: DataFrame,
    clicks: DataFrame,
    horizon: str = "1 hour",
    late_threshold: str = "30 minutes",
) -> DataFrame:
    """LEFT SEMI stream-stream interval join: converted views, each
    emitted exactly once at its first matching click — see
    streaming.joins s20_view_click_semi for semantics and the state
    contrast with the inner/outer faces."""
    v = views.withWatermark("ts", late_threshold).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = clicks.withWatermark("ts", late_threshold).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
        "left_semi",
    ).select(F.col("v_user").alias("user_id"), "view_id", "view_ts")


def session_counts_dynamic(
    events: DataFrame, late_threshold: str = "30 minutes"
) -> DataFrame:
    """Watermarked DYNAMIC-GAP session windows — the streaming face of
    s19_dynamic_session_gap: the inactivity gap is a per-event column
    expression (purchase 10 m / click 20 m / error 15 m / else 30 m), so
    open-session state extends by a different horizon per event type.
    Same state bound as the fixed-gap face: one open session per user,
    closed when the watermark passes its running (max ts + gap) end."""
    from .windows import dynamic_session_gap

    return (
        events.withWatermark("ts", late_threshold)
        .groupBy(F.session_window("ts", dynamic_session_gap()).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def start_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> StreamingQuery:
    """Run a streaming plan into an in-memory table (tests/demos). For
    production sinks swap format for 'parquet'/'kafka' + checkpointLocation."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def drain(writer: DataStreamWriter) -> None:
    """Start ``writer``, run it until every available input is processed,
    and stop it — also when a batch fails. The one start → drain → stop
    path of the certified streams (a Trigger.AvailableNow run stops
    itself and is awaited instead, see streaming.available_now)."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def start_upsert_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    order_col: str = "ts",
) -> StreamingQuery:
    """Streaming CDC sink: each micro-batch MERGEs into the parquet store
    by key (``foreachBatch`` + :func:`sinks.upsert_parquet`) — latest
    record per key (by ``order_col``) wins, exactly the pattern a
    change-stream materializer needs. foreachBatch gives the batch
    writer's full API inside a stream; the checkpoint makes re-delivered
    batches idempotent (an upsert of the same rows is a no-op). Restart
    safety: each batch first repairs any crashed store swap
    (sinks.recover_swap) so a mid-swap failure can never read as
    'no store yet' and truncate history."""
    from pyspark.sql import Window

    from ..sources.sinks import recover_swap, table_exists, upsert_parquet

    def latest_per_key(batch_df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        return (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_swap(path)
        latest = latest_per_key(batch_df)
        if not table_exists(spark, path):
            latest.write.mode("overwrite").parquet(path)
        else:
            upsert_parquet(spark, path, latest, key_cols)

    return (
        df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    late_threshold: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of the same key across
    micro-batches, keeping state only within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — unbounded ``dropDuplicates``
    state would grow forever on an infinite stream). This is the
    streaming face of x_dedup_exact: same key discipline, state bounded
    by event time instead of corpus size."""
    return events.withWatermark("ts", late_threshold).dropDuplicatesWithinWatermark(
        key_cols
    )


def start_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Production sink: append-mode parquet with a checkpoint (exactly-once
    file commit via the streaming file sink's transaction log; restarts
    resume from the checkpoint's offsets+state). Watermarked aggregations
    emit finalized windows only — exactly what a downstream batch reader
    wants. Partition the path by a window/date column for pruning."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def enrich_stream(
    events: DataFrame, dim: DataFrame, on_left: str = "user_id", on_right: str = "c_custkey"
) -> DataFrame:
    """Stream-static join: enrich each streaming event with a slowly-
    changing dimension (here customer attributes). The static side is
    re-planned per micro-batch — so a dim refreshed by a nightly batch job
    is picked up without restarting the stream — and the broadcast hint
    keeps it a map-side hash join: NO state store, NO shuffle of the
    stream side, regardless of corpus rate.

    Batch face (same plan, oracle-checked): streaming.joins
    s5_stream_static_enrich."""
    return events.join(F.broadcast(dim), events[on_left] == dim[on_right], "left")


def join_view_click(
    views: DataFrame,
    clicks: DataFrame,
    horizon: str = "1 hour",
    late_threshold: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: each view matched to the same user's
    clicks within ``horizon`` AFTER the view (the attribution/funnel join).

    Both sides carry watermarks and the join condition bounds click_ts
    within [view_ts, view_ts + horizon], which is exactly what lets Spark
    PRUNE state: a buffered view is dropped once the click watermark passes
    view_ts + horizon, a buffered click once the view watermark passes its
    ts. Without the time bound the state store grows with the full history
    of both streams — the difference between a join that runs for a year
    and one that OOMs in an hour. Inner matches emit immediately; state
    eviction needs no output watermark.

    Batch face (same condition, oracle-checked): streaming.joins
    s6_view_click_funnel."""
    v = views.withWatermark("ts", late_threshold).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = clicks.withWatermark("ts", late_threshold).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("v_user").alias("user_id"), "view_id", "click_id", "view_ts", "click_ts"
    )


def join_view_click_outer(
    views: DataFrame,
    clicks: DataFrame,
    horizon: str = "1 hour",
    late_threshold: str = "30 minutes",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: like
    :func:`join_view_click`, but views with NO click inside the horizon
    are still emitted, with NULL click columns. This is the semantics
    the inner join cannot express — "which impressions converted, and
    which did not" in one stream.

    The outer semantics change WHEN rows can be emitted: an unmatched
    view is only provably unmatched once the click-side watermark passes
    ``view_ts + horizon``, so null-extended rows trail the watermark by
    the horizon (inner matches still emit immediately). The same state
    eviction math as the inner join applies — the time bound is what
    keeps both state stores finite; Spark rejects an outer stream-stream
    join without it.

    Batch face (same condition, oracle-checked):
    streaming.joins s8_view_click_left."""
    v = views.withWatermark("ts", late_threshold).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = clicks.withWatermark("ts", late_threshold).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
        "leftOuter",
    ).select(
        F.col("v_user").alias("user_id"), "view_id", "click_id", "view_ts", "click_ts"
    )


def join_view_click_full(
    views: DataFrame,
    clicks: DataFrame,
    horizon: str = "1 hour",
    late_threshold: str = "30 minutes",
) -> DataFrame:
    """FULL OUTER stream-stream interval join: attribution pairs PLUS
    null-extended unconverted views PLUS null-extended orphan clicks —
    the fourth funnel join mode (see streaming.joins
    s21_view_click_full for semantics). Null emission on either side
    waits for the OTHER side's watermark to clear that row's interval;
    matched pairs emit immediately. Both watermarks plus the time bound
    are mandatory — Spark rejects the query otherwise, because neither
    buffer could ever be proven final."""
    v = views.withWatermark("ts", late_threshold).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = clicks.withWatermark("ts", late_threshold).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
        "fullOuter",
    ).select(
        F.coalesce(F.col("v_user"), F.col("c_user")).alias("user_id"),
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
    )


def anti_gate_stream(
    events: DataFrame, blocklist: DataFrame, on_left: str = "user_id",
    on_right: str = "c_custkey",
) -> DataFrame:
    """Stream-static LEFT ANTI join: drop streaming rows whose key
    appears in a static blocklist. The static side is re-planned per
    micro-batch (a nightly blocklist refresh is picked up without a
    stream restart) and the broadcast hint keeps it a map-side hash anti
    join — no state store, no stream-side shuffle. The exclusion twin of
    :func:`enrich_stream`.

    Batch face (same plan, oracle-checked): streaming.joins
    s23_stream_static_anti."""
    return events.join(
        F.broadcast(blocklist), events[on_left] == blocklist[on_right], "left_anti"
    )
