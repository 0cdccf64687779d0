"""Focused query timing — the guide §1 isolation loop.

Usage:
    PYTHONPATH=. python tools/measure.py [sf_dir] q1 q2 ...

Runs each named registered query in ONE fresh engine session with the
bench's reclaim between passes: cold pass first (parquet footers, codegen,
shared-memo builds), then the steady-state pass. Prints one JSON line
{"query": {"cold": s, "warm": s, "cpu_s": s, "jobs": n}, ...}: cold/warm
are wall seconds, directly comparable to bench.py's queries_cold / queries
maps; cpu_s and jobs describe the warm pass. cpu_s is the CPU the whole
process tree used (driver, JVM, Python workers), which follows the work
done where wall time follows host load; jobs is the number of Spark jobs
the pass ran. The noop sink forces full computation of every column with
no driver collect (guide §1.4).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    from bench import reclaim
    from perfbench.telemetry import tree_cpu_s
    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.session import get_spark

    spark = get_spark("spark-graft-measure")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    specs = all_queries()

    def run(name: str, group: str) -> dict[str, float]:
        sc.setJobGroup(group, name)
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return {"wall": round(wall, 3), "cpu_s": round(cpu, 2), "jobs": jobs}

    # identical warmup to bench.py so cold rows mean the same thing
    run("tpch_q6", "warmup")
    out: dict[str, dict[str, float]] = {}
    for name in args:
        reclaim(spark)
        cold = run(name, f"{name}:cold")
        reclaim(spark)
        warm = run(name, f"{name}:warm")
        out[name] = {
            "cold": cold["wall"],
            "warm": warm["wall"],
            "cpu_s": warm["cpu_s"],
            "jobs": warm["jobs"],
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
