"""Structured Streaming runtime tests: drive the real streaming engine
(file source → watermark → windowed agg → memory sink) and check it against
the batch definition of the same aggregation; verify watermark late-data
semantics; cross-check session_window against a gaps-and-islands oracle."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from recommender_systems_pyspark_spark.registry import all_queries
from recommender_systems_pyspark_spark.streaming.engine import (
    read_event_stream,
    start_to_memory,
    windowed_counts,
)

SPECS = all_queries()


def _write_batch(d: str, name: str, rows: list[dict]) -> None:
    with open(f"{d}/{name}.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(i, ts, user=1, typ="view", value=1.0):
    return {
        "event_id": i,
        "ts": ts,
        "user_id": user,
        "event_type": typ,
        "value": value,
        "props": "{}",
    }


@pytest.fixture()
def stream_dir():
    d = tempfile.mkdtemp(prefix="events_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_matches_batch_aggregation(spark, stream_dir):
    rows = [
        _ev(1, "2024-01-01 00:05:00", typ="view"),
        _ev(2, "2024-01-01 00:15:00", typ="view"),
        _ev(3, "2024-01-01 00:45:00", typ="click", value=2.0),
        _ev(4, "2024-01-01 01:10:00", typ="view"),
        _ev(5, "2024-01-01 02:30:00", typ="view"),  # advances watermark past hour 1
    ]
    _write_batch(stream_dir, "batch0", rows)
    q = start_to_memory(
        windowed_counts(read_event_stream(spark, stream_dir)), "stream_counts"
    )
    try:
        q.processAllAvailable()
        got = {
            (str(r.window_start), r.event_type): r.n_events
            for r in spark.sql("SELECT * FROM stream_counts").collect()
        }
    finally:
        q.stop()
    # append mode emits only windows the watermark has closed (hour 0)
    assert got[("2024-01-01 00:00:00", "view")] == 2
    assert got[("2024-01-01 00:00:00", "click")] == 1
    assert ("2024-01-01 02:00:00", "view") not in got  # still open


def test_watermark_drops_too_late_rows(spark, stream_dir):
    _write_batch(
        stream_dir,
        "batch0",
        [_ev(1, "2024-01-01 00:05:00"), _ev(2, "2024-01-01 03:00:00")],
    )
    q = start_to_memory(
        windowed_counts(read_event_stream(spark, stream_dir), late_threshold="30 minutes"),
        "stream_late",
    )
    try:
        q.processAllAvailable()
        # late arrival for hour 0 — watermark is 02:30, window end 01:00 → dropped
        _write_batch(stream_dir, "batch1", [_ev(3, "2024-01-01 00:10:00")])
        q.processAllAvailable()
        rows = {
            (str(r.window_start), r.n_events)
            for r in spark.sql("SELECT * FROM stream_late").collect()
        }
    finally:
        q.stop()
    assert ("2024-01-01 00:00:00", 1) in rows  # only the on-time row counted


def test_session_window_matches_gaps_and_islands(spark, sf_dir):
    import duckdb

    sessions = SPECS["s3_session_window"].fn(spark, sf_dir)
    got = sessions.groupBy("user_id").agg(F.count("*").alias("n_sessions")).toPandas()
    con = duckdb.connect()
    oracle = con.execute(
        f"""
        WITH e AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS brk
          FROM read_parquet('{sf_dir}/events.parquet')
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
        SELECT user_id, CAST(SUM(brk) AS BIGINT) AS n_sessions
        FROM e GROUP BY user_id
        """
    ).fetchdf()
    merged = got.merge(oracle, on="user_id", suffixes=("_spark", "_sql"))
    assert len(merged) == len(got) == len(oracle)
    assert (merged.n_sessions_spark == merged.n_sessions_sql).all()


def test_kafka_payload_decode_batch(spark):
    """The Kafka value decoder is pure column logic — prove it on a batch
    frame shaped like Kafka wire rows (no broker in this container).
    Malformed payloads must yield null-columned rows, not errors."""
    import json

    from recommender_systems_pyspark_spark.streaming.engine import decode_event_payload

    good = json.dumps(
        {"event_id": 7, "ts": "2024-01-01T10:00:00", "user_id": 3,
         "event_type": "click", "value": 1.5, "props": "{}"}
    )
    rows = [(b"k1", good.encode()), (b"k2", b"not-json at all")]
    kafka_like = spark.createDataFrame(rows, "key binary, value binary")
    out = decode_event_payload(kafka_like).collect()
    assert len(out) == 2
    by_id = {r.event_id: r for r in out}
    assert by_id[7].event_type == "click" and by_id[7].value == 1.5
    assert None in by_id  # malformed → null row, stream survives


def test_stateful_stream_on_rocksdb_state_store(spark, tmp_path):
    """The stateful windowed aggregation must run on the RocksDB state
    store provider (the production backend for state >> executor memory).
    Spark 4 bundles RocksDB; this proves the engine's streaming plans are
    provider-agnostic."""
    import json
    import time

    from recommender_systems_pyspark_spark.streaming.engine import (
        ROCKSDB_PROVIDER,
        read_event_stream,
        start_to_memory,
        windowed_counts,
    )
    from recommender_systems_pyspark_spark.session import scoped_conf

    with scoped_conf(spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}):
        src = tmp_path / "stream_src"
        src.mkdir()
        events = [
            {"event_id": i, "ts": f"2024-01-01T10:{i:02d}:00", "user_id": i % 3,
             "event_type": "view", "value": float(i), "props": "{}"}
            for i in range(10)
        ]
        (src / "batch1.json").write_text("\n".join(json.dumps(e) for e in events))

        stream = read_event_stream(spark, str(src))
        q = start_to_memory(
            windowed_counts(stream, window="1 hour"), "rocksdb_counts", "update"
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                q.processAllAvailable()
                got = spark.sql("SELECT * FROM rocksdb_counts").collect()
                if got:
                    break
                time.sleep(0.5)
            assert got and got[0].n_events == 10  # one window, all events
            # the running query really uses RocksDB
            assert "RocksDB" in q.lastProgress["stateOperators"][0]["customMetrics"].__str__() or (
                spark.conf.get("spark.sql.streaming.stateStore.providerClass")
                == ROCKSDB_PROVIDER
            )
        finally:
            q.stop()


def test_streaming_parquet_sink_appends_finalized_windows(spark, tmp_path):
    """File source → watermarked windows → parquet sink with checkpoint:
    append mode emits only watermark-finalized windows, and the landed
    parquet is a normal batch-readable table."""
    import json

    from recommender_systems_pyspark_spark.streaming.engine import (
        read_event_stream,
        start_to_parquet,
        windowed_counts,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def batch(name, hours):
        rows = [
            {"event_id": h * 100 + i, "ts": f"2024-01-01T{h:02d}:30:00", "user_id": 1,
             "event_type": "view", "value": 1.0, "props": "{}"}
            for h in hours
            for i in range(3)
        ]
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    batch("b1.json", [10, 11])
    stream = read_event_stream(spark, str(src))
    q = start_to_parquet(
        windowed_counts(stream, window="1 hour", late_threshold="0 seconds"),
        out,
        ckpt,
    )
    try:
        q.processAllAvailable()
        # advance the watermark past hour 11 so earlier windows finalize
        batch("b2.json", [13])
        q.processAllAvailable()
        landed = spark.read.parquet(out)
        got = {r.window_start.hour: r.n_events for r in landed.collect()}
        assert got.get(10) == 3 and got.get(11) == 3  # finalized windows only
        assert 13 not in got  # still open, not emitted by append mode
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark drops cross-batch repeats of a key
    while the watermark holds its state — the bounded-state streaming
    twin of x_dedup_exact."""
    import json

    from recommender_systems_pyspark_spark.streaming.engine import (
        dedup_stream,
        read_event_stream,
        start_to_memory,
    )

    src = tmp_path / "src"
    src.mkdir()

    def write(name, ids_hours):
        rows = [
            {"event_id": i, "ts": f"2024-01-01T{h:02d}:00:00", "user_id": 1,
             "event_type": "view", "value": 1.0, "props": "{}"}
            for i, h in ids_hours
        ]
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    write("b1.json", [(1, 10), (2, 10), (1, 10)])  # in-batch dup of id 1
    stream = dedup_stream(read_event_stream(spark, str(src)), ["event_id"])
    q = start_to_memory(stream, "dedup_out", "append")
    try:
        q.processAllAvailable()
        write("b2.json", [(1, 10), (3, 10)])  # cross-batch dup of id 1
        q.processAllAvailable()
        got = [r.event_id for r in spark.sql("SELECT * FROM dedup_out").collect()]
        assert sorted(got) == [1, 2, 3], got  # each key exactly once
    finally:
        q.stop()


def test_streaming_upsert_sink_materializes_latest(spark, tmp_path):
    """foreachBatch upsert sink: a change stream materializes to
    latest-per-key — updates in later batches replace earlier rows."""
    import json

    from recommender_systems_pyspark_spark.streaming.engine import (
        read_event_stream,
        start_upsert_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        (src / name).write_text(
            "\n".join(
                json.dumps(
                    {"event_id": eid, "ts": f"2024-01-01T{h:02d}:00:00", "user_id": u,
                     "event_type": et, "value": v, "props": "{}"}
                )
                for eid, h, u, et, v in rows
            )
        )

    write("b1.json", [(1, 10, 100, "view", 1.0), (2, 10, 200, "view", 2.0)])
    q = start_upsert_sink(read_event_stream(spark, str(src)), out, ckpt, ["user_id"])
    try:
        q.processAllAvailable()
        # update user 100, insert user 300 (plus an older in-batch dup of 100)
        write("b2.json", [(3, 11, 100, "click", 9.0), (4, 10, 100, "view", 5.0),
                          (5, 11, 300, "view", 3.0)])
        q.processAllAvailable()
        got = {r.user_id: (r.event_type, r.value) for r in spark.read.parquet(out).collect()}
        assert got == {100: ("click", 9.0), 200: ("view", 2.0), 300: ("view", 3.0)}
    finally:
        q.stop()


def test_stream_static_enrich_joins_dim_per_microbatch(spark, stream_dir):
    from recommender_systems_pyspark_spark.streaming.engine import enrich_stream

    dim = spark.createDataFrame(
        [(1, "BUILDING"), (2, "MACHINERY")], "c_custkey long, c_mktsegment string"
    )
    _write_batch(
        stream_dir,
        "batch0",
        [
            _ev(1, "2024-01-01 00:05:00", user=1),
            _ev(2, "2024-01-01 00:06:00", user=2),
            _ev(3, "2024-01-01 00:07:00", user=99),  # no dim row -> left join null
        ],
    )
    q = start_to_memory(
        enrich_stream(read_event_stream(spark, stream_dir), dim), "enriched"
    )
    try:
        q.processAllAvailable()
        got = {
            r.event_id: r.c_mktsegment
            for r in spark.sql("SELECT * FROM enriched").collect()
        }
    finally:
        q.stop()
    assert got == {1: "BUILDING", 2: "MACHINERY", 3: None}


def test_stream_stream_interval_join_matches_batch(spark, stream_dir):
    import tempfile

    from recommender_systems_pyspark_spark.streaming.engine import join_view_click

    views_dir = tempfile.mkdtemp(prefix="views_stream_")
    clicks_dir = tempfile.mkdtemp(prefix="clicks_stream_")
    try:
        views = [
            _ev(1, "2024-01-01 00:00:00", user=1, typ="view"),
            _ev(2, "2024-01-01 00:30:00", user=2, typ="view"),
            _ev(3, "2024-01-01 03:00:00", user=1, typ="view"),
        ]
        clicks = [
            _ev(10, "2024-01-01 00:20:00", user=1, typ="click"),  # joins view 1
            _ev(11, "2024-01-01 02:00:00", user=2, typ="click"),  # > horizon after 2
            _ev(12, "2024-01-01 03:10:00", user=1, typ="click"),  # joins view 3
            _ev(13, "2024-01-01 05:00:00", user=9, typ="click"),  # advances watermark
        ]
        _write_batch(views_dir, "batch0", views)
        _write_batch(clicks_dir, "batch0", clicks)
        joined = join_view_click(
            read_event_stream(spark, views_dir),
            read_event_stream(spark, clicks_dir),
        )
        q = start_to_memory(joined, "funnel_pairs")
        try:
            q.processAllAvailable()
            got = {
                (r.view_id, r.click_id)
                for r in spark.sql("SELECT * FROM funnel_pairs").collect()
            }
        finally:
            q.stop()
        assert got == {(1, 10), (3, 12)}
    finally:
        shutil.rmtree(views_dir, ignore_errors=True)
        shutil.rmtree(clicks_dir, ignore_errors=True)


def test_stream_stream_left_outer_join_emits_unmatched_views(spark, stream_dir):
    """Outer-join face: a view with no click inside the horizon is
    emitted null-extended ONCE the click watermark passes view_ts +
    horizon; matched views emit pairs exactly like the inner join."""
    import tempfile

    from recommender_systems_pyspark_spark.streaming.engine import (
        join_view_click_outer,
    )

    views_dir = tempfile.mkdtemp(prefix="views_stream_")
    clicks_dir = tempfile.mkdtemp(prefix="clicks_stream_")
    try:
        views = [
            _ev(1, "2024-01-01 00:00:00", user=1, typ="view"),  # clicked
            _ev(2, "2024-01-01 00:30:00", user=2, typ="view"),  # click too late
            _ev(3, "2024-01-01 00:40:00", user=3, typ="view"),  # never clicked
        ]
        clicks = [
            _ev(10, "2024-01-01 00:20:00", user=1, typ="click"),  # joins view 1
            _ev(11, "2024-01-01 02:00:00", user=2, typ="click"),  # > horizon
        ]
        _write_batch(views_dir, "batch0", views)
        _write_batch(clicks_dir, "batch0", clicks)
        # the GLOBAL watermark is the min across both inputs, so BOTH
        # streams need far-future events before a buffered view is
        # provably unmatched (ts + horizon < watermark) and its null row
        # can release; two notches so the post-update batch runs
        for i, t in ((1, "09:00:00"), (2, "10:00:00")):
            _write_batch(
                views_dir, f"batch{i}", [_ev(100 + i, f"2024-01-01 {t}", user=8, typ="view")]
            )
            _write_batch(
                clicks_dir, f"batch{i}", [_ev(200 + i, f"2024-01-01 {t}", user=9, typ="click")]
            )
        joined = join_view_click_outer(
            read_event_stream(spark, views_dir),
            read_event_stream(spark, clicks_dir),
        )
        q = start_to_memory(joined, "funnel_outer")
        try:
            q.processAllAvailable()
            got = {
                (r.view_id, r.click_id)
                for r in spark.sql("SELECT * FROM funnel_outer").collect()
            }
        finally:
            q.stop()
        assert (1, 10) in got, "matched view must emit its pair"
        assert (2, None) in got, "view whose click missed the horizon -> null row"
        assert (3, None) in got, "never-clicked view -> null row"
        assert (2, 11) not in got, "out-of-horizon click must not match"
    finally:
        shutil.rmtree(views_dir, ignore_errors=True)
        shutil.rmtree(clicks_dir, ignore_errors=True)


def test_foreach_upsert_merges_across_batches(spark, tmp_path):
    """Drive upsert_batch directly with two disjoint-then-overlapping
    batches: counts add, decimal totals add exactly, new keys appear."""
    from recommender_systems_pyspark_spark.streaming.foreach_upsert import (
        upsert_batch,
    )

    state = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [(1, 1.5), (1, 2.25), (2, 10.0)], "user_id long, value double"
    )
    b2 = spark.createDataFrame(
        [(2, 0.75), (3, 4.0)], "user_id long, value double"
    )
    upsert_batch(b1, state)
    upsert_batch(b2, state)
    rows = {
        r.user_id: (r.n_events, float(r.total_dec))
        for r in spark.read.parquet(state).collect()
    }
    assert rows == {1: (2, 3.75), 2: (2, 10.75), 3: (1, 4.0)}


def test_s9_stream_state_equals_batch_aggregate(spark, sf_dir):
    """The registered query's final upserted state must equal the one-shot
    batch aggregate (per-user counts and exact decimal totals) — the
    micro-batch boundaries must not be observable in the result."""
    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.sources import load_table

    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in all_queries()["s9_foreach_upsert"].fn(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.n_events, r.total_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .collect()
    }
    assert got == want


def test_dynamic_gap_sessions_stream_matches_batch(spark, stream_dir):
    """The REAL watermarked dynamic-gap session stream must emit the same
    closed sessions as the batch face: a purchase's 10-minute gap closes
    its session where a view's 30-minute gap would have held it open —
    the per-event-type policy is visible in the emitted boundaries."""
    from recommender_systems_pyspark_spark.streaming.engine import (
        session_counts_dynamic,
    )

    rows = [
        _ev(1, "2024-01-01 00:00:00", typ="purchase"),  # ends 00:10
        _ev(2, "2024-01-01 00:12:00", typ="view"),      # NEW session (gap>10m), ends 00:42
        _ev(3, "2024-01-01 00:40:00", typ="click"),     # merges (<=00:42), ends 01:00
        _ev(4, "2024-01-01 06:00:00", typ="view"),      # watermark driver
    ]
    _write_batch(stream_dir, "batch0", rows)
    q = start_to_memory(
        session_counts_dynamic(read_event_stream(spark, stream_dir)),
        "stream_dyn_sessions",
    )
    try:
        q.processAllAvailable()
        got = {
            (str(r.session_start), str(r.session_end)): r.n_events
            for r in spark.sql("SELECT * FROM stream_dyn_sessions").collect()
        }
    finally:
        q.stop()
    # closed sessions: the purchase singleton and the view+click pair
    assert got[("2024-01-01 00:00:00", "2024-01-01 00:10:00")] == 1
    assert got[("2024-01-01 00:12:00", "2024-01-01 01:00:00")] == 2
    # the 06:00 view's session is still open (append emits closed only)
    assert ("2024-01-01 06:00:00", "2024-01-01 06:30:00") not in got


def test_dynamic_gap_long_event_holds_session_open(spark, sf_dir):
    """The variable-gap subtlety a constant-gap islands computation gets
    WRONG: a long-gap event holds the session open across a short-gap
    successor that arrives after the successor's own gap but before the
    long event's end. Verified on the registered batch face with a
    crafted frame via the same session_window expression."""
    from recommender_systems_pyspark_spark.streaming.windows import (
        dynamic_session_gap,
    )

    rows = [
        ("2024-01-01 00:00:00", "view"),      # ends 00:30
        ("2024-01-01 00:25:00", "purchase"),  # joins; its own end 00:35
        ("2024-01-01 00:35:00", "purchase"),  # joins AT the boundary, ends 00:45
        ("2024-01-01 00:50:00", "purchase"),  # breaks (> 00:45): new session
    ]
    df = spark.createDataFrame(rows, "ts string, event_type string").select(
        F.col("ts").cast("timestamp_ntz").alias("ts"), "event_type"
    )
    sessions = (
        df.groupBy(F.session_window("ts", dynamic_session_gap()).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").cast("string").alias("s"),
            F.col("w.end").cast("string").alias("e"),
            "n",
        )
        .collect()
    )
    got = {(r.s, r.e): r.n for r in sessions}
    assert got == {
        ("2024-01-01 00:00:00", "2024-01-01 00:45:00"): 3,
        ("2024-01-01 00:50:00", "2024-01-01 01:00:00"): 1,
    }


def test_semi_join_stream_emits_converted_views_once(spark, stream_dir):
    """The REAL left-semi stream-stream join: a view with TWO matching
    clicks emits exactly once; a view with none never emits."""
    from recommender_systems_pyspark_spark.streaming.engine import (
        join_view_click_semi,
    )

    rows = [
        _ev(1, "2024-01-01 00:00:00", user=1, typ="view"),
        _ev(2, "2024-01-01 00:10:00", user=1, typ="click"),
        _ev(3, "2024-01-01 00:20:00", user=1, typ="click"),  # second match
        _ev(4, "2024-01-01 00:05:00", user=2, typ="view"),   # never clicks
        _ev(5, "2024-01-01 09:00:00", user=3, typ="view"),   # watermark driver
        _ev(6, "2024-01-01 09:00:00", user=3, typ="click"),
    ]
    _write_batch(stream_dir, "batch0", rows)
    src = read_event_stream(spark, stream_dir)
    q = start_to_memory(
        join_view_click_semi(
            src.where(F.col("event_type") == "view"),
            src.where(F.col("event_type") == "click"),
        ),
        "stream_semi",
    )
    try:
        q.processAllAvailable()
        got = [
            (r.user_id, r.view_id)
            for r in spark.sql("SELECT * FROM stream_semi").collect()
        ]
    finally:
        q.stop()
    assert got.count((1, 1)) == 1          # exactly once despite 2 clicks
    assert all(u != 2 for u, _ in got)     # unconverted view never emits


def test_full_outer_join_stream_emits_both_null_extensions(spark, stream_dir):
    """The REAL full-outer stream-stream join (s21's live form): matched
    pairs emit like the inner join; an unconverted view null-extends once
    the click watermark clears view_ts + horizon; an orphan click (no view
    within the preceding horizon) null-extends once the view watermark
    clears its ts — the side the left-outer face silently drops."""
    import shutil
    import tempfile

    from recommender_systems_pyspark_spark.streaming.engine import (
        join_view_click_full,
    )

    views_dir = tempfile.mkdtemp(prefix="views_stream_")
    clicks_dir = tempfile.mkdtemp(prefix="clicks_stream_")
    try:
        views = [
            _ev(1, "2024-01-01 00:00:00", user=1, typ="view"),  # clicked
            _ev(2, "2024-01-01 00:30:00", user=2, typ="view"),  # never clicked
        ]
        clicks = [
            _ev(10, "2024-01-01 00:20:00", user=1, typ="click"),  # joins view 1
            _ev(11, "2024-01-01 02:00:00", user=3, typ="click"),  # orphan: no view
        ]
        _write_batch(views_dir, "batch0", views)
        _write_batch(clicks_dir, "batch0", clicks)
        # advance BOTH watermarks far enough to finalize every buffered row
        for i, t in ((1, "09:00:00"), (2, "10:00:00")):
            _write_batch(
                views_dir, f"batch{i}", [_ev(100 + i, f"2024-01-01 {t}", user=8, typ="view")]
            )
            _write_batch(
                clicks_dir, f"batch{i}", [_ev(200 + i, f"2024-01-01 {t}", user=9, typ="click")]
            )
        joined = join_view_click_full(
            read_event_stream(spark, views_dir),
            read_event_stream(spark, clicks_dir),
        )
        q = start_to_memory(joined, "funnel_full")
        try:
            q.processAllAvailable()
            got = {
                (r.user_id, r.view_id, r.click_id)
                for r in spark.sql("SELECT * FROM funnel_full").collect()
            }
        finally:
            q.stop()
        assert (1, 1, 10) in got, "matched pair must emit"
        assert (2, 2, None) in got, "unconverted view -> null click row"
        assert (3, None, 11) in got, "orphan click -> null view row"
        # every emitted row keeps a non-null coalesced user key
        assert all(u is not None for u, _, _ in got)
    finally:
        shutil.rmtree(views_dir, ignore_errors=True)
        shutil.rmtree(clicks_dir, ignore_errors=True)


def test_stream_static_anti_gates_blocklisted_users_per_microbatch(spark, stream_dir):
    """The anti gate must drop blocklisted users' rows in EVERY
    micro-batch and pass everything else through untouched — including a
    second batch arriving after the first drained (the per-batch static
    re-plan contract)."""
    from recommender_systems_pyspark_spark.streaming.engine import anti_gate_stream

    blocklist = spark.createDataFrame([(2,), (300,)], "c_custkey long")
    _write_batch(
        stream_dir,
        "batch0",
        [
            _ev(1, "2024-01-01 00:05:00", user=1),
            _ev(2, "2024-01-01 00:06:00", user=2),  # blocked
            _ev(3, "2024-01-01 00:07:00", user=99),
        ],
    )
    q = start_to_memory(
        anti_gate_stream(read_event_stream(spark, stream_dir), blocklist),
        "anti_gated",
    )
    try:
        q.processAllAvailable()
        _write_batch(
            stream_dir,
            "batch1",
            [
                _ev(4, "2024-01-01 00:08:00", user=300),  # blocked
                _ev(5, "2024-01-01 00:09:00", user=1),
            ],
        )
        q.processAllAvailable()
        got = sorted(
            r.event_id for r in spark.sql("SELECT * FROM anti_gated").collect()
        )
    finally:
        q.stop()
    assert got == [1, 3, 5]
