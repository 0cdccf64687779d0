"""Bench roster invariants.

bench.py tolerates unknown names (``if name in specs``) so a typo'd
roster entry would SILENTLY drop a row from the committed artifact —
the exact failure mode the records rule exists to prevent. These tests
make roster drift loud. bench.py's module level imports only stdlib, so
importing it here is cheap."""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench

from recommender_systems_pyspark_spark.registry import all_queries


def test_every_bench_roster_name_is_registered():
    registered = set(all_queries())
    unknown = [n for n in bench.HEADLINE + bench.RECORD_ONLY if n not in registered]
    assert not unknown, f"bench roster names not in the registry (silently skipped): {unknown}"


def test_stream_split_partitions_the_roster_correctly():
    """The fresh-session streaming block (VERDICT r12 #3 fix) selects
    entries by the ^s\\d+_ prefix — every streaming-family face must land
    there and no batch face may leak in."""
    stream = [n for n in bench.RECORD_ONLY if re.match(r"^s\d+_", n)]
    batch = [n for n in bench.RECORD_ONLY if n not in stream]
    assert "s19_dynamic_session_gap" in stream
    assert "s20_view_click_semi" in stream
    assert "s16_stream_hour_day_rollup" in stream
    assert all(not re.match(r"^s\d+_", n) for n in batch)
    # the x_* and f* batch shapes must never ride the streaming session
    assert "x_media_dedup_e2e" in batch and "f7_f8_row_metadata_det" in batch


def test_no_duplicate_roster_entries():
    roster = bench.HEADLINE + bench.RECORD_ONLY
    dupes = {n for n in roster if roster.count(n) > 1}
    assert not dupes, f"duplicated bench roster entries (double-timed): {dupes}"


def test_final_summary_line_drops_an_oversized_query_map(capsys):
    """An oversized ``queries`` map moves to stderr; the final line keeps
    the contract fields, flags the truncation and still parses."""
    import json

    small = {"metric": "m", "value": 1.0, "queries": {"q": 0.5}}
    assert json.loads(bench.final_summary_line(small)) == small
    big = {"metric": "m", "value": 1.0, "queries": {f"q{i:04d}": 0.5 for i in range(200)}}
    line = bench.final_summary_line(big)
    assert len(line) < bench.FINAL_LINE_MAX
    assert json.loads(line) == {"metric": "m", "value": 1.0, "queries_truncated": True}
    assert json.loads(capsys.readouterr().err) == {"queries": big["queries"]}
