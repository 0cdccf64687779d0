"""Streaming per-event anomaly detection with exact integer state —
the online z-score gate a payments/abuse pipeline runs per key: flag an
event whose value deviates from the key's PRIOR history by more than k
standard deviations, with the (count, sum, sum-of-squares) baseline
carried across micro-batches in explicit GroupState.

What makes this face certifiable (unlike typical float online stats):
the state is integer cents — ``(n, s=Σcents, q=Σcents²)`` — and the
z-score test is the cross-multiplied INTEGER comparison

    (n·c − s)² > k² · (n·q − s²)        ⇔  (c − s/n)² > k²·(q/n − (s/n)²)

so no division, no float accumulation, no libm: every flag is a pure
integer predicate over prefix sums, identical whether computed
incrementally (this stream) or by a one-shot window (the oracle).
Magnitudes: cents ≤ ~6e4, per-key n ≤ ~100 at sf0.1 → every term
≤ ~4e16, comfortably int64 (the oracle's HUGEINT widening is exact a
fortiori; for unbounded keys widen the state to two bigint limbs or
re-baseline with a decaying window).

The reference (jgchoti/recommender-systems-pyspark) has no streaming at
all (SURVEY.md §2.10) — this is LLM-pipeline/extension surface: the same
shape gates ingest feeds (doc length/quality drift per source) before
they poison a training mix.

Scale: state is one 3-long tuple per key, hash-partitioned by the
grouping key; each micro-batch shuffles only its own rows. The flag math
is vectorized numpy prefix sums inside the Arrow batch — no per-row
Python. Production: RocksDB state store + event-time timeout to retire
idle keys.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import query
from ..sources import load_table
from .engine import drain
from .staging import stage_ordered_files, state_sized_partitions

#: Flag when the squared deviation exceeds _K2 × variance (k = 2).
_K2 = 4
#: Minimum prior events before the baseline is trusted enough to flag.
_MIN_PRIOR = 5
_N_BATCHES = 4

OUTPUT_SCHEMA = "event_id bigint, user_id bigint, n_prior bigint, is_anomaly boolean"
STATE_SCHEMA = "n bigint, s bigint, q bigint"


def _flag_user(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold one user's batch (in event_id order — the feed's time order)
    onto the carried (n, s, q) baseline and emit one flagged row per
    event. Prefix sums are vectorized; the state update is the batch
    total."""
    (user_id,) = key
    n0, s0, q0 = state.get if state.exists else (0, 0, 0)
    pdf = pd.concat(list(pdfs)).sort_values("event_id")
    # ONE rounding rule on both sides (ADVICE r10): floor(x*100 + 0.5) is
    # computed in identical IEEE doubles here and in the oracle's
    # floor(value*100 + 0.5) — numpy .round() is half-to-even while
    # DuckDB round() is half-away-from-zero, so a tie value (e.g. 0.125)
    # would silently diverge between the two.
    c = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    # baseline BEFORE each event: carried state + exclusive prefix sums
    cn = n0 + np.arange(len(c), dtype=np.int64)
    cs = s0 + np.concatenate(([0], np.cumsum(c[:-1]))) if len(c) else c
    cq = q0 + np.concatenate(([0], np.cumsum(c[:-1] * c[:-1]))) if len(c) else c
    lhs = (cn * c - cs) ** 2
    rhs = _K2 * (cn * cq - cs * cs)
    flags = (cn >= _MIN_PRIOR) & (lhs > rhs)
    state.update(
        (int(n0 + len(c)), int(s0 + c.sum()), int(q0 + (c * c).sum()))
    )
    yield pd.DataFrame(
        {
            "event_id": pdf["event_id"].to_numpy(),
            "user_id": user_id,
            "n_prior": cn,
            "is_anomaly": flags,
        }
    )


def anomaly_flags(events: DataFrame) -> DataFrame:
    """Attach the stateful anomaly operator to an events stream."""
    return events.groupBy("user_id").applyInPandasWithState(
        _flag_user,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "s14_stream_anomaly",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    w AS (
      SELECT event_id, user_id, cents,
             COUNT(*) OVER win AS n,
             COALESCE(SUM(cents) OVER win, 0) AS s,
             COALESCE(SUM(cents * cents) OVER win, 0) AS q
      FROM ev
      WINDOW win AS (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           CAST(n AS BIGINT) AS n_prior,
           (n >= {_MIN_PRIOR}
            AND (n * cents - s) * (n * cents - s) > {_K2} * (n * q - s * s)
           ) AS is_anomaly
    FROM w
    ORDER BY event_id
    """,
)
def s14_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the anomaly gate as a REAL 4-micro-batch stream (event_id-
    quartile files — the feed's time order; ``maxFilesPerTrigger=1``) and
    return every event's flag. The oracle recomputes each flag with a
    one-shot exclusive-prefix window over the whole feed — hash equality
    certifies that the incremental state fold is exactly the batch
    answer regardless of micro-batch boundaries, INCLUDING the flags'
    dependence on processing order (an event flagged in batch 2 must see
    precisely the batch-0/1 history the window sees)."""
    with (
        tempfile.TemporaryDirectory(prefix="s14_anomaly_", ignore_cleanup_errors=True) as d,
        state_sized_partitions(spark),
    ):
        feed = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        stage_ordered_files(feed, "event_id", _N_BATCHES, os.path.join(d, "src"))
        stream = (
            spark.readStream.schema("event_id bigint, user_id bigint, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "src"))
        )
        sink = "s14_stream_anomaly_sink"
        drain(
            anomaly_flags(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
        )
        return spark.table(sink).orderBy("event_id").localCheckpoint(eager=True)
