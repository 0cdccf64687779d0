"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It generates the workload's inputs from
the seed, sets the engine up several times on fresh sessions, checks the
engine's outputs, then runs whole passes of the workload's op mix until at
least ``--seconds`` have passed (one pass of each workload takes longer
than the 2 seconds BENCHMARK.json gives). The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``). Everything else goes to stderr and to
``.bench_work/results/``.

A traced run compares itself with the latest untraced run of the same
workload recorded in ``.bench_work/results/`` (of the same seed when there
is one); make an untraced run first to get its tracing overhead.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "recommender_systems_pyspark_spark")
VERIFY_TOOL = os.path.join(ROOT, "tools", "verify_local.py")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
RESULTS = os.path.join(WORK_ROOT, "results")
N_SETUPS = 3
DRIVER_MEMORY = "1g"

sys.path.insert(0, HERE)

from telemetry import (  # noqa: E402
    Tracer,
    block_manager,
    job_metrics,
    read_event_logs,
    self_ms,
    tree_cpu_s,
    vm_hwm_mb,
)
from workloads import WORKLOADS, Ctx  # noqa: E402


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pin_env(work: str, traced: bool) -> str:
    """Environment every run shares: one engine core per CPU, the repo on
    the Python workers' path, and every scratch file under ``work``."""
    cpus = str(len(os.sched_getaffinity(0)))
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # A fixed-size heap keeps the JVM's resident size from depending on when
    # the collector chose to grow it.
    java_opts = f"-Xms{DRIVER_MEMORY} -Dderby.system.home={work} -Djava.io.tmpdir={work}/tmp"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if traced:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYTHONWARNINGS": "ignore",
        # every JVM of the run (the launcher too) keeps out of /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    })
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    return cpus


def start_session():
    from recommender_systems_pyspark_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM PySpark launched (and the Python workers it forked)
    and wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def provenance(args, cpus: str) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ENGINE, "**", "*.py"), recursive=True)):
        with open(path, "rb") as fh:
            h.update(path[len(ROOT):].encode() + fh.read())
    import pyspark

    return {
        "git_commit": commit,
        "engine_sha256": h.hexdigest(),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": cpus,
        "spark_version": pyspark.__version__,
        "python": sys.version.split()[0],
        "seed": args.seed,
        "loadavg_start": os.getloadavg(),
    }


def interquartile_mean(values: list[float]) -> float:
    """Mean of the middle half: drops the lowest and highest quarter."""
    xs = sorted(values)
    k = len(xs) // 4
    mid = xs[k:len(xs) - k]
    return sum(mid) / len(mid)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Runner:
    """One benchmark run of one workload."""

    def __init__(self, args, traced: bool) -> None:
        self.args = args
        self.traced = traced
        self.work = os.path.join(
            WORK_ROOT, "tmp", f"{args.workload}-s{args.seed}-t{int(traced)}-p{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        self.cpus = pin_env(self.work, traced)
        self.wl = WORKLOADS[args.workload]()
        if args.scale:
            self.wl.sf = args.scale
        self.tracer = Tracer(traced)
        self.ctx = Ctx(
            root=ROOT, work=self.work, seed=args.seed, sf=self.wl.sf, tracer=self.tracer,
            data_dir=os.path.join(self.work, "data"),
        )
        self.ops: list[dict] = []
        self.failures: list[dict] = []
        self.latency: list[float] = []
        self.n_done = 0
        #: CPU seconds spent in ops of the workload's latency kinds
        self.request_cpu_s = 0.0
        self.cache_before = set(glob.glob(os.path.join(ROOT, ".cache", "*", "*")))

    # -- the run ------------------------------------------------------------
    def run(self) -> dict:
        ctx, wl = self.ctx, self.wl
        prov = provenance(self.args, self.cpus)
        phases: dict[str, float] = {}
        t_phase = time.perf_counter()

        def phase(name: str) -> None:
            nonlocal t_phase
            now = time.perf_counter()
            phases[name] = now - t_phase
            t_phase = now

        wl.prepare(ctx)
        phase("prepare_s")
        setups: list[float] = []
        setups_cpu: list[float] = []
        setup_fields: list[dict] = []
        for k in range(N_SETUPS):
            t0, cpu0 = time.perf_counter(), tree_cpu_s()
            with self.tracer.span("setup", span_id=f"setup-{k}"):
                with self.tracer.span("session.start"):
                    ctx.spark = start_session()
                fields = {"session.start_ms": (time.perf_counter() - t0) * 1000.0}
                fields.update(wl.setup(ctx, k))
            setups.append(time.perf_counter() - t0)
            setups_cpu.append(tree_cpu_s() - cpu0)
            setup_fields.append(fields)
            if k < N_SETUPS - 1:
                ctx.spark.stop()
        phase("setups_s")
        errors = wl.check(ctx)
        phase("check_s")
        window_s, pass_s, pass_cpu_s = self._window()
        phase("window_s")
        rss = vm_hwm_mb() + vm_hwm_mb(ctx.spark.sparkContext._jvm.ProcessHandle.current().pid())
        errors += wl.verify(ctx)
        ctx.spark.stop()
        if wl.needs_fresh_session:
            ctx.spark = start_session()
            errors += wl.verify_fresh(ctx)
            ctx.spark.stop()
        phase("verify_s")
        for e in errors:
            log(f"CHECK FAILED [{wl.name}] {e}")
        end_to_end = {
            "setup_s": statistics.median(setups_cpu),
            "pass_cpu_s": statistics.median(pass_cpu_s),
            "op_cpu_ms": 1000.0 * self.request_cpu_s / max(1, len(self.latency)),
            "peak_rss_mb": rss,
        }
        # Wall-clock figures follow how busy the host is (see README.md);
        # they are kept in the record and in the traced run's metrics.
        wall = {
            "wall.setup_s": statistics.median(setups),
            "wall.pass_s": statistics.median(pass_s),
            "wall.ops_per_s": self.n_done / window_s,
            "wall.latency_p50_ms": quantile(self.latency, 0.5),
            "wall.latency_p90_ms": quantile(self.latency, 0.9),
            "wall.latency_iqm_ms": interquartile_mean(self.latency),
        }
        record = {
            "workload": wl.name,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "sf": wl.sf,
            "traced": self.traced,
            "provenance": prov,
            "correct": not errors,
            "check_errors": errors,
            "attempted": len(self.ops),
            "failed": len(self.failures),
            "failures": self.failures,
            "latency_samples": self.latency,
            "wall": wall,
            "passes": len(pass_s),
            "pass_times_s": pass_s,
            "pass_cpu_s": pass_cpu_s,
            "ops": [{k: op[k] for k in ("op_id", "name", "kind", "ok", "wall_ms", "cpu_ms")}
                    for op in self.ops],
            "window_s": window_s,
            "setups_s": setups,
            "setups_cpu_s": setups_cpu,
            "phases_s": phases,
            # disk artifacts the engine built under .cache/ (removed after the run)
            "cache_artifacts_built": [os.path.relpath(p, ROOT) for p in self.new_cache_entries()],
            "end_to_end": end_to_end,
        }
        if self.traced:
            record["per_layer"], record["trace"] = self._layers(setup_fields)
            record["per_layer"].update(wall)
        return record

    def new_cache_entries(self) -> list[str]:
        return sorted(set(glob.glob(os.path.join(ROOT, ".cache", "*", "*"))) - self.cache_before)

    def _window(self) -> tuple[float, list[float], list[float]]:
        """Whole passes of the op mix until ``--seconds`` have passed.
        Returns the window's length and each pass's wall and CPU seconds."""
        rng = random.Random(self.args.seed)
        pass_s: list[float] = []
        pass_cpu_s: list[float] = []
        t_win = time.perf_counter()
        while True:
            t_pass, cpu_pass = time.perf_counter(), tree_cpu_s()
            for op in self.wl.make_pass(self.ctx, rng):
                self._run_op(op)
            pass_s.append(time.perf_counter() - t_pass)
            pass_cpu_s.append(tree_cpu_s() - cpu_pass)
            if time.perf_counter() - t_win >= self.args.seconds:
                return time.perf_counter() - t_win, pass_s, pass_cpu_s

    def _run_op(self, op) -> None:
        sc = self.ctx.spark.sparkContext
        op_id = f"op-{len(self.ops):05d}"
        sc.setJobGroup(op_id, f"{self.wl.name}:{op.name}")
        self.ctx.op_extra = {}
        samples = None
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self.tracer.span(op.name, span_id=op_id, kind=op.kind):
            try:
                samples = op.fn()
                ok = True
            except Exception as exc:  # one failed op must not end the run
                ok = False
                self.failures.append(
                    {"workload": self.wl.name, "op": op.name, "error": type(exc).__name__}
                )
                log(f"OP FAILED [{self.wl.name}] {op.name}: {type(exc).__name__}: {exc}")
                log(traceback.format_exc(limit=3))
        wall_ms = (time.perf_counter() - t0) * 1000.0
        cpu_s = tree_cpu_s() - cpu0
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec = {"op_id": op_id, "name": op.name, "kind": op.kind, "ok": ok, "wall_ms": wall_ms,
               "cpu_ms": cpu_s * 1000.0}
        if ok:
            samples = samples if samples is not None else [wall_ms]
            self.n_done += len(samples)
            if op.kind in self.wl.latency_kinds:
                self.latency.extend(samples)
                self.request_cpu_s += cpu_s
        if self.traced:
            layer = dict(zip(("blockmgr.rdd_blocks", "blockmgr.storage_peak_bytes"),
                             block_manager(self.ctx.spark)))
            if hasattr(self.wl, "table_stats"):
                layer.update(self.wl.table_stats())
            progress = self.ctx.op_extra.pop("stream.progress", None)
            if progress is not None:
                layer.update(_stream_metrics(progress))
            layer.update(self.ctx.op_extra)
            rec["layer"] = layer
        self.ops.append(rec)

    # -- traced run: per-layer metrics --------------------------------------
    def _layers(self, setup_fields: list[dict]) -> tuple[dict, dict]:
        log_data = read_event_logs(os.path.join(self.work, "eventlog"))
        spans = self.tracer.spans
        by_id = {s.id: s for s in spans}
        group_to_op = {op["op_id"]: op["op_id"] for op in self.ops}
        group_to_op.update(getattr(self.wl, "run_to_op", {}))
        jobs_by_op: dict[str, list] = {}
        for job in log_data.jobs:
            op_id = group_to_op.get(job.group)
            if op_id is not None and job.end_ms:
                jobs_by_op.setdefault(op_id, []).append(job)
        trace_spans = [s.__dict__ for s in spans]
        per_op = []
        for op in self.ops:
            root = by_id.get(op["op_id"])
            jobs = jobs_by_op.get(op["op_id"], [])
            m = job_metrics(log_data, jobs)
            children = [s for s in spans if s.parent == op["op_id"]]
            job_iv = [(j.submit_ms, j.end_ms) for j in jobs]
            m["driver.gap_ms"] = self_ms(root, job_iv) if root else 0.0
            for child in children:
                inner = [j for j in jobs if child.start_ms <= j.submit_ms <= child.end_ms]
                _child_metrics(m, child, inner)
            for job in jobs:
                parent = _innermost(spans, op["op_id"], job.submit_ms) or op["op_id"]
                jid = f"{op['op_id']}/job-{job.app[-6:]}-{job.job_id}"
                trace_spans.append({"id": jid, "parent": parent, "name": "spark.job",
                                    "start_ms": job.submit_ms, "end_ms": job.end_ms, "attrs": {}})
                for sid in job.stage_ids:
                    st = log_data.stages.get((job.app, sid))
                    if st is not None and st.end_ms:
                        trace_spans.append({"id": f"{jid}/stage-{sid}", "parent": jid,
                                            "name": "spark.stage", "start_ms": st.submit_ms,
                                            "end_ms": st.end_ms, "attrs": {"tasks": st.tasks}})
            m.update(op["layer"])
            per_op.append({"op_id": op["op_id"], "name": op["name"], "kind": op["kind"],
                           "wall_ms": op["wall_ms"], "metrics": m})
        layer = _aggregate(per_op)
        for key in ("session.start_ms", "setup.warmup_ms", "setup.seed_store_ms"):
            vals = [f[key] for f in setup_fields if key in f]
            layer[key] = statistics.median(vals) if vals else 0.0
        by_name: dict[str, dict] = {}
        for rec in per_op:
            by_name.setdefault(rec["name"], []).append(rec["metrics"])
        trace = {
            "spans": trace_spans,
            "ops": per_op,
            "by_op_name": {n: _aggregate([{"metrics": m} for m in ms]) for n, ms in by_name.items()},
        }
        return layer, trace


def _innermost(spans, op_id: str, t_ms: float) -> str | None:
    best = None
    for s in spans:
        if s.parent and s.id.startswith(op_id) and s.id != op_id and s.start_ms <= t_ms <= s.end_ms:
            if best is None or s.start_ms >= best.start_ms:
                best = s
    return best.id if best else None


def _child_metrics(m: dict, child, jobs: list) -> None:
    """Per-op figures of the benchmark's calls into registry, ml, sources
    and the stream drain: each span's duration as ``<span name>_ms``, the
    Spark jobs of the ml calls, and plan time outside Spark jobs."""
    m[f"{child.name}_ms"] = child.end_ms - child.start_ms
    if child.name == "registry.plan":
        m["registry.plan_self_ms"] = self_ms(child, [(j.submit_ms, j.end_ms) for j in jobs])
    elif child.name in ("ml.train", "ml.recommend"):
        m[f"{child.name}_jobs"] = float(len(jobs))
    elif child.name == "ml.users.read":
        m[f"ml.users.read_ms.{child.attrs['kind']}"] = m["ml.users.read_ms"]


def _stream_metrics(progress: list[dict]) -> dict:
    """Per-trigger means of Structured Streaming's own progress reports."""
    out = {"stream.triggers": float(len(progress)),
           "stream.input_rows": float(sum(p.get("numInputRows", 0) for p in progress))}
    n = max(1, len(progress))
    for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                      ("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
                      ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms")):
        out[f"stream.{name}"] = sum(p["durationMs"].get(key, 0) for p in progress) / n
    for key, name in (("numRowsTotal", "state_rows_total"), ("memoryUsedBytes", "state_memory_bytes"),
                      ("numRowsRemoved", "state_rows_removed"), ("commitTimeMs", "state_commit_ms")):
        out[f"stream.{name}"] = sum(
            sum(s.get(key, 0) for s in p.get("stateOperators", [])) for p in progress
        ) / n
    return out


#: Run-level figures that are a maximum or a final state, not a mean per op.
_MAX_KEYS = ("blockmgr.storage_peak_bytes", "sources.table_files", "sources.table_bytes")


def _aggregate(per_op: list[dict]) -> dict:
    """Mean over the ops that recorded each metric (max for peaks)."""
    vals: dict[str, list[float]] = {}
    for rec in per_op:
        for k, v in rec["metrics"].items():
            vals.setdefault(k, []).append(float(v))
    return {k: (max(v) if k in _MAX_KEYS else sum(v) / len(v)) for k, v in vals.items()}


# --------------------------------------------------------------------------


def result_path(args, traced: bool) -> str:
    stamp = time.strftime("%Y%m%dT%H%M%S")
    return os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t{int(traced)}-{stamp}-{os.getpid()}.json")


def untraced_baseline(args, sf: float) -> dict | None:
    """The latest untraced record of this workload at the same run length
    and scale: of the same seed if there is one, else of any seed."""
    found = sorted(glob.glob(os.path.join(RESULTS, f"{args.workload}-s*-t0-*.json")), key=os.path.getmtime)
    records = []
    for path in found:
        with open(path, encoding="utf-8") as fh:
            rec = json.load(fh)
        if rec.get("seconds") == args.seconds and rec.get("sf") == sf:
            records.append(rec)
    same_seed = [r for r in records if r["seed"] == args.seed]
    return (same_seed or records or [None])[-1]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None,
                   help="input scale factor (default: the workload's own)")
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in (ENGINE, VERIFY_TOOL) if not os.path.exists(p)]
    if missing:
        log(f"cannot benchmark: {', '.join(missing)} not found under {ROOT}")
        return 2
    spec = load_spec()
    baseline = None
    sf = args.scale or WORKLOADS[args.workload]().sf
    if args.trace:
        baseline = untraced_baseline(args, sf)
        if baseline is None:
            log("no untraced run of this workload on record: tracing overhead not reported")
    runner = Runner(args, traced=bool(args.trace))
    try:
        record = runner.run()
    finally:
        stop_jvm()
        shutil.rmtree(runner.work, ignore_errors=True)
        for path in runner.new_cache_entries():
            shutil.rmtree(path, ignore_errors=True)
    if baseline is not None:
        overhead = {
            k: v - baseline["end_to_end"][k]
            for k, v in record["end_to_end"].items() if k in baseline["end_to_end"]
        }
        record["overhead_vs_untraced"] = overhead
        record["overhead_baseline_seed"] = baseline["seed"]
        for k, v in overhead.items():
            record["per_layer"][f"overhead.{k}"] = v
    os.makedirs(RESULTS, exist_ok=True)
    path = result_path(args, bool(args.trace))
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    log(f"record written to {os.path.relpath(path, ROOT)}")
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = record["per_layer"] if args.trace else record["end_to_end"]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    summary = {k: record[k] for k in ("workload", "seed", "passes", "window_s",
                                      "check_errors", "cache_artifacts_built")}
    summary["provenance"] = record["provenance"]
    log(json.dumps(summary, default=str))
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
