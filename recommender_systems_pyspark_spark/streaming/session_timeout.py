"""Custom streaming sessionizer with EVENT-TIME TIMEOUT eviction — the
one arbitrary-state mechanism no other face exercises: sessions close
either when a successor event ARRIVES after the gap (any batch) or when
the WATERMARK passes the open session's expiry
(``GroupStateTimeout.EventTimeTimeout`` — Spark hands the group back
with ``state.hasTimedOut`` and no data). The built-in session window
(s3) cannot express per-session close REASONS or custom emission; this
is the applyInPandasWithState shape a production sessionizer uses.

Certifiable because every piece is deterministic given the staged
batches (streaming/staging.py):
- Session splitting is the exact integer-micros gap rule (> GAP).
- The timeout timestamp is ``max(floor_ms(end) + gap_ms, wm + 1)`` —
  the ``wm + 1`` guard keeps Spark's "timeout must be later than the
  current watermark" contract for sessions already expired when
  registered; such sessions fire on the next watermark advance, so the
  CLOSED SET is exactly {sessions with floor_ms(end) + gap < final
  eviction watermark} regardless of which batch registered them.
- The final eviction watermark is ``floor_ms(global max ts) − delay``
  (EventTimeStats accumulates at ms precision — same model the
  hash-green s10/s11 oracles replay), and ``processAllAvailable`` runs
  the post-data flush batch that fires timeouts the last advance
  unlocked.

- Both safety arguments (delay < gap prevents false timeouts; no event
  is ever later than the watermark) rely on the staged feed being
  GLOBALLY ts-monotone across batches — true because event_id staging
  orders the fixture's time-ordered ids, and ASSERTED at staging time
  (``stage_ordered_files(assert_monotone_col="ts")``): a reordered
  fixture raises at staging instead of silently hash-mismatching
  (ADVICE r10).

Scale: state is one (start, end, n) tuple per OPEN session per key;
closed sessions leave state immediately. Each batch shuffles its own
rows to their key's partition; timeout scans touch only expired keys.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import query
from ..sources import load_table
from .engine import drain
from .staging import stage_ordered_files, state_sized_partitions

#: Session gap: a quieter stretch than this starts a new session.
_GAP_MIN = 30
_GAP_US = _GAP_MIN * 60 * 1_000_000
_GAP_MS = _GAP_MIN * 60 * 1_000
#: Watermark delay (late-data allowance).
_DELAY_MIN = 10
_N_BATCHES = 4

OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp_ntz, session_end timestamp_ntz, "
    "n_events bigint, close_reason string"
)
STATE_SCHEMA = "start_us bigint, end_us bigint, n bigint"


def _emit(user_id: int, sessions: list) -> pd.DataFrame:
    return pd.DataFrame(
        [
            (
                user_id,
                pd.Timestamp(st, unit="us"),
                pd.Timestamp(en, unit="us"),
                n,
                reason,
            )
            for st, en, n, reason in sessions
        ],
        columns=[
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            "close_reason",
        ],
    )


def _sessionize(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold one user's batch into the open-session state; emit every
    session closed by a successor's arrival, and on ``hasTimedOut``
    emit the expired open session and drop the state."""
    (user_id,) = key
    if state.hasTimedOut:
        st, en, n = state.get
        state.remove()
        yield _emit(user_id, [(st, en, n, "timeout")])
        return
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    ts = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    open_sess = state.get if state.exists else None
    closed: list = []
    if open_sess is not None:
        st, en, n = open_sess
    else:
        # n = 0 means the first event below starts the session (the gap
        # check is skipped until one event has folded)
        st, en, n = int(ts[0]), int(ts[0]), 0
    # split points: strictly-greater-than-gap quiet stretches
    for t in ts.tolist():
        if n > 0 and t - en > _GAP_US:
            closed.append((st, en, n, "new_session"))
            st, n = t, 0
        en = max(en, t)
        n += 1
    state.update((int(st), int(en), int(n)))
    # expiry: watermark passing floor_ms(end) + gap; the wm+1 floor keeps
    # already-expired registrations legal (they fire on the next advance)
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(en // 1000 + _GAP_MS, wm + 1))
    yield _emit(user_id, closed)


def session_stream(events: DataFrame) -> DataFrame:
    """Attach the timeout sessionizer to an event stream (``ts`` must be
    TIMESTAMP — withWatermark rejects NTZ; pin the session to UTC)."""
    return (
        events.withWatermark("ts", f"{_DELAY_MIN} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


@query(
    "s15_stream_session_timeout",
    oracle=f"""
    WITH ev AS (SELECT user_id, ts, event_id FROM events),
    gm AS (
      SELECT date_trunc('milliseconds', MAX(ts))
               - INTERVAL {_DELAY_MIN} MINUTE AS wm
      FROM ev
    ),
    o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microsecond', lag(ts) OVER w, ts)
                         > {_GAP_US} THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ),
    sess AS (
      SELECT user_id, sid,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events
      FROM s GROUP BY user_id, sid
    ),
    flagged AS (
      SELECT user_id, session_start, session_end,
             CAST(n_events AS BIGINT) AS n_events,
             CASE WHEN lead(sid) OVER (PARTITION BY user_id ORDER BY sid)
                         IS NOT NULL THEN 'new_session'
                  WHEN date_trunc('milliseconds', session_end)
                         + INTERVAL {_GAP_MIN} MINUTE < (SELECT wm FROM gm)
                    THEN 'timeout'
                  ELSE NULL END AS close_reason
      FROM sess
    )
    SELECT user_id, session_start, session_end, n_events
    FROM flagged
    WHERE close_reason IS NOT NULL
    ORDER BY user_id, session_start
    """,
)
def s15_stream_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the timeout sessionizer over the events fixture as a REAL
    4-micro-batch stream and return every CLOSED session with its close
    reason. The oracle replays the whole lifecycle in SQL: gap-rule
    sessionization for the splits, 'new_session' for any session with a
    successor (its closing event arrives in SOME batch), and 'timeout'
    for each user's final session iff the final eviction watermark
    (ms-floored global max − delay) passed its expiry — sessions still
    inside the horizon stay in state, unemitted. The delay (10 min) is
    deliberately < the gap (30 min): a continuing session can then
    never be falsely timed out between batches (the watermark cannot
    overtake an expiry whose successor event is still inside the gap).
    Hash equality certifies the closed-session SET and contents through
    both close paths."""
    with (
        tempfile.TemporaryDirectory(prefix="s15_session_", ignore_cleanup_errors=True) as d,
        state_sized_partitions(spark),
    ):
        feed = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts"
        )
        # assert_monotone_col="ts": the no-false-timeout and
        # no-dropped-event proofs in the module docstring hold ONLY
        # because event_id staging keeps the feed globally ts-monotone
        # across batches — asserted here so a reordered fixture fails
        # loudly at staging instead of hash-mismatching (ADVICE r10).
        stage_ordered_files(
            feed,
            "event_id",
            _N_BATCHES,
            os.path.join(d, "src"),
            assert_monotone_col="ts",
        )
        stream = (
            spark.readStream.schema(
                "event_id bigint, user_id bigint, ts timestamp_ntz"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "src"))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        sink = "s15_stream_session_timeout_sink"
        drain(
            session_stream(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
        )
        # close_reason stays OUT of the hash face: whether an interior
        # session closes by 'timeout' or by its successor's ARRIVAL
        # depends on where the batch boundaries fall relative to the
        # watermark (both paths emit the identical session row); the
        # pytest asserts both reasons occur, the oracle certifies the
        # session SET and contents.
        return (
            spark.table(sink)
            .select("user_id", "session_start", "session_end", "n_events")
            .orderBy("user_id", "session_start")
            .localCheckpoint(eager=True)
        )
