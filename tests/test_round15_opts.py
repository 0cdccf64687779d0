"""Round-15 optimization internals: the shared keyed stager's empty-
bucket fallback (VERDICT r14 what's-wrong #3 / ADVICE r14 #1), the
ingest-gate fixture invariant (ADVICE r14 #3), the KMV membership-set
pair expansion that replaced the exact tier's h-keyed self-join
(VERDICT r14 next-round #2), the LPA session memo, the conf hygiene
of every query that scopes session confs, the codegen cache's hold on a
repeated headline pass, tune_session's derived confs and the driver
JVM's JIT thresholds."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE


def test_stage_keyed_files_empty_bucket_fallback(spark, tmp_path):
    """A batch value with NO rows must still stage a 0-row parquet so the
    micro-batch count (and every batch index downstream) is stable —
    the old inline stagers raised IndexError here."""
    from recommender_systems_pyspark_spark.streaming.staging import (
        stage_keyed_files,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    feed = spark.createDataFrame(
        [(0, 1.0), (0, 2.0), (2, 3.0)], "user_id bigint, value double"
    )
    stage_keyed_files(feed, F.col("user_id") % 4, range(4), src)
    sizes = {}
    for i in range(4):
        path = os.path.join(src, f"batch{i}.parquet")
        df = spark.read.parquet(path)
        sizes[i] = df.count()
        assert df.columns == ["user_id", "value"]
        # mtimes strictly increasing in batch id (file-source order)
        assert os.path.getmtime(path) == 1_700_000_000 + i
    assert sizes == {0: 2, 1: 0, 2: 1, 3: 0}


def test_stage_keyed_files_subset_buckets(spark, tmp_path):
    """The s11 restart shape: staging only a SUBSET of buckets writes
    exactly those files, with the out-of-subset rows excluded."""
    from recommender_systems_pyspark_spark.streaming.staging import (
        stage_keyed_files,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    feed = spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "user_id bigint, value double"
    )
    stage_keyed_files(feed, F.col("user_id") % 4, (2, 3), src)
    assert sorted(os.listdir(src)) == ["batch2.parquet", "batch3.parquet"]
    got = spark.read.parquet(os.path.join(src, "batch2.parquet"))
    assert sorted(r.user_id for r in got.collect()) == [2, 6]


def test_late_audit_staging_survives_empty_residue(spark, tmp_path):
    """s10's private stager routes through stage_keyed_files now: a feed
    whose user_ids all share one residue class stages 4 files (3 empty)
    instead of raising (VERDICT r14 what's-wrong #3)."""
    import datetime as dt

    from recommender_systems_pyspark_spark.streaming.staging import (
        stage_keyed_files,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = [(4 * k, dt.datetime(2024, 1, 1, 0, k), 1.0) for k in range(5)]
    ev = spark.createDataFrame(rows, "user_id bigint, ts timestamp_ntz, value double")
    # the exact expression late_audit._stage_batches passes
    stage_keyed_files(ev, F.col("user_id") % 4, range(4), src)
    counts = [
        spark.read.parquet(os.path.join(src, f"batch{i}.parquet")).count()
        for i in range(4)
    ]
    assert counts == [5, 0, 0, 0]


@pytest.mark.parametrize("sf", [SF_SMOKE, SF_ORACLE])
def test_embeddings_vec_ids_subset_of_doc_ids(spark, sf):
    """ADVICE r14 #3: the ingest gate's union+groupBy tier merge relies on
    embeddings.vec_id ⊆ documents.doc_id (a stray vec_id would emit a
    verdict row with NULL text-tier flags where the old inner join
    dropped it). The invariant is FIXTURE-level — assert it on both
    fixture scales so a regenerated fixture that breaks it fails loudly
    here instead of surfacing as an oracle mismatch downstream."""
    from recommender_systems_pyspark_spark.sources import tables

    t = tables(spark, sf)
    stray = (
        t["embeddings"]
        .select(F.col("vec_id").alias("doc_id"))
        .join(t["documents"].select("doc_id"), "doc_id", "left_anti")
        .count()
    )
    assert stray == 0


def test_kmv_bitmask_pairs_match_self_join(spark):
    """The exact-intersection tier's bit-packed membership pass must
    count exactly what the old h-keyed self-join counted, including
    sources sharing no shingle (absent pair) and 3+-way shared
    shingles."""
    from recommender_systems_pyspark_spark.functions.dedup import (
        _kmv_exact_inter,
    )

    rows = [
        ("a", "h1"), ("b", "h1"), ("c", "h1"),   # 3-way share
        ("a", "h2"), ("b", "h2"),                 # 2-way
        ("a", "h3"),                              # singleton
        ("c", "h4"), ("b", "h4"),                 # unsorted arrival order
    ]
    hashed = spark.createDataFrame(rows, "source string, h string")
    sizes = hashed.groupBy("source").agg(F.count("*").alias("n"))
    old = (
        hashed.alias("x")
        .join(
            hashed.alias("y"),
            (F.col("x.h") == F.col("y.h")) & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(F.col("x.source").alias("a"), F.col("y.source").alias("b"))
        .agg(F.count("*").alias("n"))
    )
    new = _kmv_exact_inter(hashed, sizes)
    expect = {("a", "b", 2), ("a", "c", 1), ("b", "c", 2)}
    assert {(r.a, r.b, r.n) for r in old.collect()} == expect
    assert {
        (r.source_a, r.source_b, r.exact_inter) for r in new.collect()
    } == expect


def test_kmv_bitmask_raises_past_63_sources(spark):
    """The bit-packed audit tier must fail LOUDLY past 63 sources, never
    corrupt a mask silently."""
    from recommender_systems_pyspark_spark.functions.dedup import (
        _kmv_exact_inter,
    )

    rows = [(f"s{i:03d}", "h1") for i in range(64)]
    hashed = spark.createDataFrame(rows, "source string, h string")
    sizes = hashed.groupBy("source").agg(F.count("*").alias("n"))
    with pytest.raises(ValueError, match="at most 63 sources"):
        _kmv_exact_inter(hashed, sizes).collect()


def test_cached_lpa_labels_memo_and_equivalence(spark):
    """cached_lpa_labels returns the memoized frame on the second call
    and its assignment equals a fresh lpa_labels run over the same
    edges (the memo must be a pure cache, never a semantic change)."""
    from recommender_systems_pyspark_spark.functions.pagerank import (
        _LP_ITERS,
        cached_copurchase_edges,
        cached_lpa_labels,
        lpa_labels,
    )

    a = cached_lpa_labels(spark, SF_SMOKE)
    b = cached_lpa_labels(spark, SF_SMOKE)
    assert a is b
    fresh = lpa_labels(cached_copurchase_edges(spark, SF_SMOKE), _LP_ITERS)
    got = {(r.node, r.label) for r in a.collect()}
    want = {(r.node, r.label) for r in fresh.collect()}
    assert got == want


_TZ = "spark.sql.session.timeZone"
_PARTS = "spark.sql.shuffle.partitions"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def _condensation_levels(spark):
    from recommender_systems_pyspark_spark.functions.graph import (
        condensation_levels,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src bigint, dst bigint"
    )
    rows = {(r.level, r.n_sccs, r.n_members) for r in condensation_levels(edges).collect()}
    # {1,2,3} is one SCC at level 0; {4} hangs off it at level 1
    assert rows == {(0, 1, 3), (1, 1, 1)}


def _registered(name):
    def run(spark):
        from recommender_systems_pyspark_spark.registry import all_queries

        assert all_queries()[name].fn(spark, SF_SMOKE).collect()

    return run


def _scoped_conf_unset_key(spark):
    """A key that was unset before the scope must be unset after it —
    the path s7's RocksDB provider takes (s7 itself needs
    google.protobuf, so it cannot run in every environment)."""
    from recommender_systems_pyspark_spark.session import scoped_conf
    from recommender_systems_pyspark_spark.streaming.engine import ROCKSDB_PROVIDER

    with scoped_conf(spark, {_PROVIDER: ROCKSDB_PROVIDER, _TZ: "UTC", _PARTS: "3"}):
        assert spark.conf.get(_PROVIDER) == ROCKSDB_PROVIDER
        assert (spark.conf.get(_TZ), spark.conf.get(_PARTS)) == ("UTC", "3")


@pytest.mark.parametrize(
    "call",
    [
        _condensation_levels,
        _registered("s4_stateful_user_totals"),
        _registered("s10_late_data_audit"),
        _registered("s15_stream_session_timeout"),
        _registered("x_bucketed_join"),
        _scoped_conf_unset_key,
    ],
    ids=[
        "condensation_levels",
        "s4_stateful_user_totals",
        "s10_late_data_audit",
        "s15_stream_session_timeout",
        "x_bucketed_join",
        "scoped_conf",
    ],
)
def test_call_leaves_session_confs_as_found(spark, call):
    """Queries that override session confs (UTC, a state- or graph-sized
    shuffle width, the state-store provider) must leave the session as
    they found it: a non-UTC zone, a non-default width and an UNSET
    provider all survive the call unchanged."""
    prior = {k: spark.conf.get(k, None) for k in (_TZ, _PARTS, _PROVIDER)}
    spark.conf.set(_TZ, "America/Los_Angeles")
    spark.conf.set(_PARTS, "7")
    spark.conf.unset(_PROVIDER)
    try:
        call(spark)
        assert spark.conf.get(_TZ) == "America/Los_Angeles"
        assert spark.conf.get(_PARTS) == "7"
        assert spark.conf.get(_PROVIDER, None) is None
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_second_headline_pass_compiles_nothing(spark):
    """The engine's codegen cache holds the headline pass's whole working
    set (~170 generated classes, more than Spark's 100-entry default), so
    a second pass of the 16 bench.py headline queries compiles no class."""
    import bench
    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.session import codegen_compiles

    specs = all_queries()

    def headline_pass() -> int:
        before = codegen_compiles(spark)
        for name in bench.HEADLINE:
            specs[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        return codegen_compiles(spark) - before

    headline_pass()
    assert headline_pass() == 0


def test_tune_session_sets_every_modifiable_engine_conf(spark):
    """On a session with the engine confs unset, tune_session sets every
    runtime-modifiable ENGINE_CONFS key to its engine value and skips the
    static ones (the codegen cache size, the Python workers' daemon and
    path, the driver JVM's options) without raising."""
    from recommender_systems_pyspark_spark.session import ENGINE_CONFS, tune_session

    session = spark.newSession()
    runtime = {k: v for k, v in ENGINE_CONFS.items() if session.conf.isModifiable(k)}
    assert set(ENGINE_CONFS) - set(runtime) == {
        "spark.sql.codegen.cache.maxEntries",
        "spark.executorEnv.PYTHONPATH",
        "spark.python.daemon.module",
        "spark.driver.defaultJavaOptions",
    }
    for k in runtime:
        session.conf.unset(k)
    assert tune_session(session) is session
    assert {k: session.conf.get(k) for k in runtime} == runtime


def test_engine_jvm_uses_engine_jit_thresholds(spark):
    """The session's JVM was started with the C2 thresholds of
    ENGINE_CONFS' ``spark.driver.defaultJavaOptions``, set on its command
    line rather than left at their defaults."""
    from recommender_systems_pyspark_spark.session import ENGINE_CONFS

    wanted = dict(
        opt.removeprefix("-XX:").split("=")
        for opt in ENGINE_CONFS["spark.driver.defaultJavaOptions"].split()
    )
    assert set(wanted) == {
        "Tier4InvocationThreshold",
        "Tier4MinInvocationThreshold",
        "Tier4CompileThreshold",
        "Tier4BackEdgeThreshold",
    }
    jvm = spark.sparkContext._jvm
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class)
    got = {}
    for name in wanted:
        opt = bean.getVMOption(name)
        got[name] = (opt.getValue(), opt.getOrigin().toString())
    assert got == {name: (value, "VM_CREATION") for name, value in wanted.items()}
