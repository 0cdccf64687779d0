"""applyInPandasWithState: verify user state carries ACROSS micro-batches
(the property batch groupBy cannot give you) and the running-threshold
alert fires exactly when cumulative value crosses ALERT_STEP multiples."""

from __future__ import annotations

import pytest

from recommender_systems_pyspark_spark.session import scoped_conf
from recommender_systems_pyspark_spark.streaming.engine import (
    read_event_stream,
    start_to_memory,
)
from recommender_systems_pyspark_spark.streaming.stateful import (
    cumulative_user_stats,
)
from tests.test_streaming import _ev, _write_batch, stream_dir  # noqa: F401


def test_state_carries_across_batches(spark, stream_dir):  # noqa: F811
    stream = cumulative_user_stats(read_event_stream(spark, stream_dir))
    _write_batch(
        stream_dir,
        "batch0",
        [
            _ev(1, "2024-01-01 00:00:10", user=1, value=40.0),
            _ev(2, "2024-01-01 00:01:00", user=1, value=40.0),
            _ev(3, "2024-01-01 00:02:00", user=1, value=30.0),
            _ev(4, "2024-01-01 00:02:30", user=2, value=10.0),
        ],
    )
    q = start_to_memory(stream, "stateful_totals", output_mode="update")
    try:
        q.processAllAvailable()
        _write_batch(
            stream_dir,
            "batch1",
            [
                _ev(5, "2024-01-01 00:05:00", user=1, value=100.0),
                _ev(6, "2024-01-01 00:06:00", user=2, value=80.0),
            ],
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM stateful_totals").collect()
    finally:
        q.stop()

    snaps = {(r.user_id, r.n_events): r for r in rows}
    # batch 0 snapshots
    assert snaps[(1, 3)].total_value == pytest.approx(110.0)
    assert snaps[(1, 3)].alerts_crossed == 1  # crossed 100
    assert snaps[(2, 1)].total_value == pytest.approx(10.0)
    assert snaps[(2, 1)].alerts_crossed == 0
    # batch 1 snapshots — state carried, totals cumulative
    assert snaps[(1, 4)].total_value == pytest.approx(210.0)
    assert snaps[(1, 4)].alerts_crossed == 1  # crossed 200
    assert snaps[(2, 2)].total_value == pytest.approx(90.0)
    assert snaps[(2, 2)].alerts_crossed == 0
    assert str(snaps[(1, 4)].last_ts) == "2024-01-01 00:05:00"


def test_transform_with_state_carries_across_batches(spark, stream_dir):  # noqa: F811
    """transformWithStateInPandas twin of the classic-API test: same
    operator semantics through Spark 4's StatefulProcessor contract with
    RocksDB-backed named value state. Skips where google.protobuf (the
    TWS python-worker wire protocol) is absent — see stateful_v2's module
    docstring."""
    pytest.importorskip("google.protobuf")
    from recommender_systems_pyspark_spark.streaming.stateful_v2 import (
        ROCKSDB_PROVIDER,
        cumulative_user_stats_v2,
    )

    with scoped_conf(spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}):
        stream = cumulative_user_stats_v2(read_event_stream(spark, stream_dir))
        _write_batch(
            stream_dir,
            "batch0",
            [
                _ev(1, "2024-01-01 00:00:10", user=1, value=40.0),
                _ev(2, "2024-01-01 00:01:00", user=1, value=70.0),
            ],
        )
        q = start_to_memory(stream, "tws_totals", output_mode="update")
        try:
            q.processAllAvailable()
            _write_batch(
                stream_dir,
                "batch1",
                [_ev(3, "2024-01-01 00:05:00", user=1, value=100.0)],
            )
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM tws_totals").collect()
        finally:
            q.stop()
    snaps = {(r.user_id, r.n_events): r for r in rows}
    assert snaps[(1, 2)].total_value == pytest.approx(110.0)
    assert snaps[(1, 2)].alerts_crossed == 1
    assert snaps[(1, 3)].total_value == pytest.approx(210.0)
    assert snaps[(1, 3)].alerts_crossed == 1


def test_stateful_v2_registration_is_conditional_on_protobuf():
    """The TWS query self-registers iff google.protobuf imports (VERDICT
    r5 #5): absent → no always-erring driver-gate row; present → the
    query is live in the registry with rows-only grading (oracle=None)."""
    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.streaming import stateful_v2

    try:
        import google.protobuf  # noqa: F401
        have_protobuf = True
    except ImportError:
        have_protobuf = False

    qs = all_queries()
    assert stateful_v2.PROTOBUF_REGISTERED == have_protobuf
    if have_protobuf:
        spec = qs["s9_stateful_user_totals_tws"]
        assert spec.oracle is None  # rows-only by design (stateful streaming)
    else:
        assert "s9_stateful_user_totals_tws" not in qs
