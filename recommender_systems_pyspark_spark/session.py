"""One SparkSession factory for the whole engine.

The reference builds four near-duplicate sessions (SURVEY.md §2.11:
``utils/data_loader.py:29-37``, ``utils/recommender.py:21-29``,
``utils/user.py:17-25``, ``utils/imb_rating.py:12-19``). Here there is exactly
one factory; every config it sets is chosen for cluster scale, not just
local mode:

- AQE on (runtime re-planning: partition coalescing, skew-join splitting,
  broadcast-join conversion) — supersedes the reference's hand-rolled
  ``repartition(4/2)/coalesce(1)`` row-count heuristics.
- ``spark.sql.shuffle.partitions`` sized from the environment; on a real
  cluster this is a starting width that AQE coalesces down.
- Arrow enabled so any driver collection / pandas interchange is columnar.
- Session timezone pinned to UTC so timestamp semantics are stable across
  driver, executors, and the DuckDB correctness oracle.
- Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``)
  sized to 4096 entries instead of 100. The conf is static and the cache
  JVM-wide: it is sized when the session is built and outlives
  ``spark.stop()``. A 16-query headline pass compiles ~170 classes, so the
  100-entry LRU missed on every class of every pass: Janino recompiled
  each one (~12 ms) and the JIT compiled it again. A one-pass sweep of 120
  registry queries compiled 1235 classes (~10 per query; 318 queries), and
  retaining them grew Metaspace 190.2 → 198.9 MB (~7 KB a class). On a
  4-vCPU VM the timed perfbench ``analytics`` pass went from 169 compiles
  to 0 and its CPU median from 23.7 to 18.4 s. A session built elsewhere
  keeps its own size: :func:`tune_session` cannot set a static conf.
- Python workers come from the engine's daemon, :mod:`.pyworker`
  (``spark.python.daemon.module``). Spark calls
  ``importlib.invalidate_caches()`` at the start of every Python task;
  below Python 3.12 that re-parses the central directory of every zip on
  the worker's path: Spark's core jar twice (~51 ms each), pyspark.zip
  eleven times (~12.5 ms each) and py4j's zip twice, 135-224 ms of CPU
  per task. The daemon's workers re-read an archive only when it changed
  (~0.2 ms a task); on a 4-vCPU VM the perfbench ``streaming`` pass's CPU
  median went from 41.1 to 28.7 s. Workers import the daemon from this
  package, so the package must be importable by every worker, as every
  engine UDF already requires; ``spark.executorEnv.PYTHONPATH`` puts its
  parent directory on their path, so a driver started outside the
  repository works too. Both confs are static: a session handed in
  (``__spark_entry__``) keeps Spark's stock workers.

Per-query conf overrides go through :func:`scoped_conf`, the one
set-then-restore path, so every query leaves the session as it found it.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Confs applied when WE build the session. When the driver hands us an
#: existing session (the `__spark_entry__` contract) we do not mutate it
#: beyond runtime-settable SQL confs.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Driver fixtures carry parquet TIMESTAMP(NANOS); with this conf Spark 4
    # reads them as TIMESTAMP_NTZ (micros precision) instead of erroring.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # 128 MiB input splits: at 100 TB that is ~800k tasks for a full scan,
    # which a 1000-executor cluster drains in waves; larger values risk
    # executor OOM on wide rows, smaller ones drown the scheduler.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Static and JVM-wide. Spark's 100 entries hold less than one headline
    # pass (~170 classes); 4096 holds the registry's working set (~10 per
    # query) at ~7 KB of Metaspace a class. See the module docstring.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Static. The directory that holds this package: without it workers
    # find the engine (its UDFs, the daemon below) only when the driver
    # was started in the repository root.
    "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    # Static. Workers that skip re-reading Spark's unchanged jar and zips
    # on every task (~135-224 ms of CPU each). See the module docstring.
    "spark.python.daemon.module": "recommender_systems_pyspark_spark.pyworker",
}


def default_parallelism() -> int:
    """Shuffle width default: driver exports SPARK_GRAFT_CPUS on this rig."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Driver-heap default derived from the machine, not hardcoded.

    A flat 16g default OOM-kills the JVM inside cgroup-limited containers
    with less RAM (ADVICE r5). Take ~40% of physical memory, clamped to
    [2g, 16g]; SPARK_GRAFT_DRIVER_MEMORY stays the explicit knob for long
    verify sessions. Probe failures fall back to a conservative 4g.
    """
    try:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gb = max(2, min(16, int(total_bytes * 0.4 / (1 << 30))))
    except (ValueError, OSError, AttributeError):
        gb = 4
    return f"{gb}g"


def get_spark(app_name: str = "spark-graft", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine session.

    Local test rig: ``local[$SPARK_GRAFT_CPUS]``. On a cluster the master
    comes from spark-submit; nothing here assumes local mode.
    """
    width = shuffle_partitions or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]"))
        .config("spark.sql.shuffle.partitions", str(width))
        # In local mode the driver JVM IS every executor; Spark's 1g
        # default heap dies under a long sf0.1 verify session (observed:
        # py4j connection loss ~150 queries in). The default scales with
        # physical RAM (clamped 2–16g) so cgroup-limited hosts don't get
        # OOM-killed; a builder config is only a default — spark-submit /
        # an existing JVM always wins, so this does not constrain cluster
        # deployments.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", _default_driver_memory()),
        )
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable :data:`ENGINE_CONFS` to an externally
    provided session (e.g. one handed to ``__spark_entry__``). Static confs
    (the codegen cache, the Python worker daemon and path, master, memory)
    are fixed when that session was built and are left alone."""
    for k, v in ENGINE_CONFS.items():
        if spark.conf.isModifiable(k):
            spark.conf.set(k, v)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics``, which counts cache misses only); diff two reads
    to count the compiles of the work between them."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


@contextmanager
def scoped_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` for the body of a ``with`` block, then put every key
    back as it was: its prior value, or unset if it had none. This is the
    engine's only set-then-restore path; the only permanent sets are
    :func:`tune_session` and the loader's ``nanosAsLong``.

    A lazy frame built inside the scope but evaluated after it runs under
    the RESTORED confs (and after any temp dir opened alongside is gone),
    so materialise the answer inside the scope — ``localCheckpoint(
    eager=True)`` or a collect.

    Confs are session-global: a query planned concurrently on the same
    SparkSession sees the override too. The bench, verify and entry-point
    harnesses run one query at a time per session; a caller sharing a
    session across threads should hand each thread ``spark.newSession()``.
    """
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
