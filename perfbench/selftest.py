"""Self-test of the benchmark harness on tiny inputs.

    python3 perfbench/selftest.py [workload ...]

For each workload (all by default) it makes one untraced and one traced
run at scale factor 0.001 with a one-second window, then checks that

- both runs exit 0 and their outputs pass every check;
- the untraced run prints every end-to-end metric of BENCHMARK.json and
  the traced run every per-layer metric, each with its unit;
- the traced run's record parses, every span's parent exists, and every
  span lies inside its parent.

Exits 1 on the first workload that fails, naming what failed.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".bench_work", "results")
SEED = 7
SCALE = "0.001"
#: Event-log times are whole milliseconds; Python span times are not.
SLACK_MS = 2.0


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    if len(lines) != 1:
        raise AssertionError(f"stdout holds {len(lines)} lines, expected only the result")
    return json.loads(lines[-1])


def check_metrics(result: dict, expected: list[dict]) -> None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise AssertionError(f"run not clean: {result}")
    for m in expected:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), float):
            raise AssertionError(f"metric {m['name']} missing or malformed: {got}")
    extra = set(result["metrics"]) - {m["name"] for m in expected}
    if extra:
        raise AssertionError(f"metrics not in BENCHMARK.json: {sorted(extra)}")


def check_trace(workload: str) -> int:
    records = sorted(glob.glob(os.path.join(RESULTS, f"{workload}-s{SEED}-t1-*.json")),
                     key=os.path.getmtime)
    with open(records[-1], encoding="utf-8") as fh:
        trace = json.load(fh)["trace"]
    spans = {s["id"]: s for s in trace["spans"]}
    for s in spans.values():
        if s["parent"] is None:
            continue
        parent = spans.get(s["parent"])
        if parent is None:
            raise AssertionError(f"span {s['id']} has no parent {s['parent']}")
        if s["start_ms"] < parent["start_ms"] - SLACK_MS or s["end_ms"] > parent["end_ms"] + SLACK_MS:
            raise AssertionError(f"span {s['id']} ({s['name']}) lies outside {parent['id']}")
    if not trace["ops"] or not any(s["name"] == "spark.job" for s in spans.values()):
        raise AssertionError("trace holds no ops or no Spark jobs")
    return len(spans)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    workloads = argv or [w["name"] for w in spec["workloads"]]
    for wl in workloads:
        try:
            check_metrics(run(wl, 0), spec["end_to_end"])
            check_metrics(run(wl, 1), spec["per_layer"])
            n = check_trace(wl)
        except AssertionError as exc:
            print(f"FAIL {wl}: {exc}")
            return 1
        print(f"ok   {wl}: every metric present, {n} spans nest")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
