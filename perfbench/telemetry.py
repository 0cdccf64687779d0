"""Telemetry: spans, Spark's event log and block manager for the traced
run; process-tree CPU time and memory for every run.

Spans are recorded only from the benchmark's own files, around its calls
into the engine; nothing inside the engine is instrumented. Spark jobs and
stages are read back from the uncompressed JSON event log after the
session stops and attached below the op span whose job group they carry.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def now_ms() -> float:
    """Wall clock in epoch milliseconds, comparable with event-log times."""
    return time.time() * 1000.0


@dataclass
class Span:
    id: str
    parent: str | None
    name: str
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and each
    ``span`` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, span_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        self._n += 1
        s = Span(span_id or f"{parent or 'run'}/{self._n}", parent, name, now_ms(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end_ms = now_ms()
            self._stack.pop()


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span: Span, child_intervals: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [
        (max(s, span.start_ms), min(e, span.end_ms))
        for s, e in child_intervals
        if e > span.start_ms and s < span.end_ms
    ]
    return (span.end_ms - span.start_ms) - union_ms(clipped)


# --------------------------------------------------------------------------
# Spark event log


@dataclass
class StageStats:
    submit_ms: float = 0.0
    end_ms: float = 0.0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: float = 0.0
    output_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    fetch_wait_ms: float = 0.0
    spill_disk_bytes: float = 0.0
    accum: dict = field(default_factory=dict)  # accumulator id -> value


@dataclass
class JobStats:
    app: str
    job_id: int
    group: str | None
    submit_ms: float
    end_ms: float = 0.0
    stage_ids: list = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[JobStats] = field(default_factory=list)
    stages: dict = field(default_factory=dict)  # (app, stage id) -> StageStats
    python_accums: dict = field(default_factory=dict)  # (app, accum id) -> kind


def _walk_plan(plan: dict, app: str, out: dict) -> None:
    """Record the accumulator ids of every Python/Arrow node's metrics, and
    of the rows entering it (first descendant reporting output rows)."""
    name = plan.get("nodeName", "")
    if any(m in name for m in PYTHON_NODE_MARKERS):
        for m in plan.get("metrics", []):
            kind = {
                "data sent to Python workers": "bytes_sent",
                "data returned from Python workers": "bytes_returned",
            }.get(m["name"])
            if kind:
                out[(app, m["accumulatorId"])] = kind
        node = plan
        while node.get("children"):
            node = node["children"][0]
            rows = [
                m for m in node.get("metrics", [])
                if m["name"] in ("number of output rows", "records read")
            ]
            if rows:
                out[(app, rows[0]["accumulatorId"])] = "rows_in"
                break
    for child in plan.get("children", []):
        _walk_plan(child, app, out)


def read_event_logs(log_dir: str) -> EventLog:
    """Parse every (rolling, uncompressed) event log under ``log_dir``."""
    log = EventLog()
    for app_dir in sorted(glob.glob(os.path.join(log_dir, "*"))):
        files = sorted(
            glob.glob(os.path.join(app_dir, "events_*")) if os.path.isdir(app_dir) else [app_dir],
            key=lambda p: int(os.path.basename(p).split("_")[1]) if os.path.isdir(app_dir) else 0,
        )
        app = os.path.basename(app_dir)
        jobs: dict[int, JobStats] = {}
        for path in files:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    _apply_event(json.loads(line), app, jobs, log)
        log.jobs.extend(jobs.values())
    return log


def _apply_event(e: dict, app: str, jobs: dict, log: EventLog) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        jobs[e["Job ID"]] = JobStats(
            app, e["Job ID"], props.get("spark.jobGroup.id"), float(e["Submission Time"]),
            stage_ids=list(e.get("Stage IDs", [])),
        )
    elif kind == "SparkListenerJobEnd":
        job = jobs.get(e["Job ID"])
        if job is not None:
            job.end_ms = float(e["Completion Time"])
    elif kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        st = log.stages.setdefault((app, info["Stage ID"]), StageStats())
        st.submit_ms = float(info.get("Submission Time") or 0)
        st.end_ms = float(info.get("Completion Time") or 0)
        for a in info.get("Accumulables", []):
            try:
                st.accum[a["ID"]] = st.accum.get(a["ID"], 0.0) + float(a["Value"])
            except (TypeError, ValueError):
                pass
    elif kind == "SparkListenerTaskEnd":
        m = e.get("Task Metrics")
        if not m:
            return
        st = log.stages.setdefault((app, e["Stage ID"]), StageStats())
        st.tasks += 1
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
        st.gc_ms += m.get("JVM GC Time", 0)
        st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        st.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics", {})
        st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
        st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        st.spill_disk_bytes += m.get("Disk Bytes Spilled", 0)
    elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
        "SparkListenerSQLAdaptiveExecutionUpdate"
    ):
        _walk_plan(e.get("sparkPlanInfo") or {}, app, log.python_accums)


def job_metrics(log: EventLog, jobs: list[JobStats]) -> dict[str, float]:
    """Scheduler, executor, shuffle and Python-boundary totals over ``jobs``."""
    out = defaultdict(float)
    out["sched.jobs"] = len(jobs)
    seen = set()
    for job in jobs:
        for sid in job.stage_ids:
            key = (job.app, sid)
            if key in seen:
                continue
            seen.add(key)
            st = log.stages.get(key)
            if st is None or st.tasks == 0 and st.end_ms == 0:
                out["sched.skipped_stages"] += 1
                continue
            out["sched.stages"] += 1
            out["sched.tasks"] += st.tasks
            out["exec.run_ms"] += st.run_ms
            out["exec.cpu_ms"] += st.cpu_ms
            out["exec.gc_ms"] += st.gc_ms
            out["exec.input_bytes"] += st.input_bytes
            out["exec.output_bytes"] += st.output_bytes
            out["shuffle.write_bytes"] += st.shuffle_write_bytes
            out["shuffle.read_bytes"] += st.shuffle_read_bytes
            out["shuffle.fetch_wait_ms"] += st.fetch_wait_ms
            out["spill.disk_bytes"] += st.spill_disk_bytes
            python_stage = False
            for acc_id, value in st.accum.items():
                kind = log.python_accums.get((job.app, acc_id))
                if kind is None:
                    continue
                out[f"python.{kind}"] += value
                python_stage = python_stage or kind != "rows_in"
            if python_stage:
                out["python.stage_run_ms"] += st.run_ms
    out["sched.job_wall_ms"] = union_ms([(j.submit_ms, j.end_ms) for j in jobs if j.end_ms])
    return dict(out)


# --------------------------------------------------------------------------
# CPU and memory

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by process ``root`` (this one by default)
    and every descendant: the Python driver, the JVM PySpark launched and
    the Python workers the JVM forked. Children that have already exited
    are counted through their parent's ``cutime``/``cstime``.

    On a virtual machine the kernel leaves time the hypervisor stole out
    of these counters, so they follow the work done, not how busy the host
    was."""
    parent_of: dict[int, int] = {}
    used: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        pid = int(name)
        parent_of[pid] = int(fields[1])
        # utime, stime, cutime, cstime
        used[pid] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in parent_of.items():
        children[ppid].append(pid)
    total, todo = 0, [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def block_manager(spark) -> tuple[int, int]:
    """(cached RDD blocks, bytes they hold in memory and on disk) now."""
    blocks = size = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        blocks += info.numCachedPartitions()
        size += info.memSize() + info.diskSize()
    return blocks, size
