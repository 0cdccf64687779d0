"""Round-10 operator tests: the shared blocked-pair primitive (VERDICT r9
#2/#3), star-components in the ER/split paths (ADVICE r9), CDC replay
idempotency (ADVICE r9), the fd-profile approx face (VERDICT r9 #5),
executed compaction (VERDICT r9 #7), and the codec-coverage probe
(VERDICT r9 #8)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from recommender_systems_pyspark_spark.functions.blocking import blocked_pairs
from recommender_systems_pyspark_spark.sources import tables


# ---------------------------------------------------------------------------
# blocked_pairs: lossless vs the naive within-block form
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("max_dlen", [0, 1, 2])
def test_blocked_pairs_equal_naive_within_block(spark, sf_dir, max_dlen):
    """The δ-union of (block, len)-keyed equi-joins must produce EXACTLY
    the pair set of the old coarse-block join with the |Δlen| post-filter
    — lossless blocking, no duplicates across δ branches (VERDICT r9 #3:
    pair-set equality with the old within-block form)."""
    c = tables(spark, sf_dir)["customer"].select(
        "c_nationkey", "c_custkey", "c_name", F.length("c_name").alias("nlen")
    )
    got = {
        (r.a_c_custkey, r.b_c_custkey)
        for r in blocked_pairs(
            c, "c_custkey", "nlen", ("c_nationkey",), max_dlen
        ).collect()
    }
    a, b = c.alias("a"), c.alias("b")
    naive = {
        (r[0], r[1])
        for r in a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey"))
            & (F.abs(F.col("a.nlen") - F.col("b.nlen")) <= max_dlen),
        )
        .select(F.col("a.c_custkey"), F.col("b.c_custkey"))
        .collect()
    }
    assert got == naive
    # id-ordering contract + no duplicate emissions
    assert all(x < y for x, y in got)
    n_rows = blocked_pairs(c, "c_custkey", "nlen", ("c_nationkey",), max_dlen).count()
    assert n_rows == len(got)


def test_blocked_pairs_carries_both_sides_columns(spark, sf_dir):
    """Every df column must survive prefixed on both sides, with the
    length bound actually holding row-wise."""
    c = tables(spark, sf_dir)["customer"].select(
        "c_nationkey", "c_custkey", "c_name", F.length("c_name").alias("nlen")
    )
    out = blocked_pairs(c, "c_custkey", "nlen", ("c_nationkey",), 1)
    assert set(out.columns) == {
        f"{p}_{col}" for p in ("a", "b") for col in c.columns
    }
    bad = out.where(
        (F.abs(F.col("a_nlen") - F.col("b_nlen")) > 1)
        | (F.col("a_c_nationkey") != F.col("b_c_nationkey"))
    ).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# ER clustering: components agree with union-find on the real pair graph
# ---------------------------------------------------------------------------


def test_entity_resolution_components_match_union_find(spark, sf_dir):
    """x_entity_resolution_e2e's components over the actual blocked-match
    pair graph equal driver-side union-find over the collected pairs —
    same ids, same min-id labels (the fixture's chaining names are the
    long-diameter case)."""
    from recommender_systems_pyspark_spark.functions.graph import connected_components
    from tests.test_graph_corpus import _union_find

    cust = tables(spark, sf_dir)["customer"]
    cand = blocked_pairs(
        cust.select(
            "c_nationkey", "c_custkey", "c_name", F.length("c_name").alias("nlen")
        ),
        "c_custkey",
        "nlen",
        ("c_nationkey",),
        1,
    )
    pairs = cand.where(
        F.levenshtein(F.col("a_c_name"), F.col("b_c_name")) <= 2
    ).select(F.col("a_c_custkey").alias("src"), F.col("b_c_custkey").alias("dst"))
    nodes = cust.select(F.col("c_custkey").alias("id"))
    got = {r.id: r.component for r in connected_components(pairs, nodes).collect()}
    want = _union_find(
        [r.id for r in nodes.collect()], [(r.src, r.dst) for r in pairs.collect()]
    )
    assert got == want
    assert any(v != k for k, v in got.items())  # the graph has real clusters


# ---------------------------------------------------------------------------
# CDC apply: at-least-once replay is a no-op (ADVICE r9)
# ---------------------------------------------------------------------------


def test_cdc_apply_replayed_batch_is_skipped(spark, sf_dir, tmp_path):
    """foreachBatch retries redeliver a batch with the SAME epoch_id; the
    state must not double-count n_ops (the LWW columns were already
    replay-safe; the additive counter was not)."""
    from recommender_systems_pyspark_spark.streaming.cdc_apply import (
        apply_cdc_batch,
        changefeed,
    )

    state = str(tmp_path / "state")
    feed = changefeed(spark, sf_dir).where(F.col("user_id") < 5)
    apply_cdc_batch(feed, state, epoch_id=0)
    first = {r.user_id: (r.version, r.op, r.value, r.n_ops)
             for r in spark.read.parquet(state).collect()}
    # replay epoch 0 → skipped; then a genuinely new (empty-delta) epoch
    apply_cdc_batch(feed, state, epoch_id=0)
    replay = {r.user_id: (r.version, r.op, r.value, r.n_ops)
              for r in spark.read.parquet(state).collect()}
    assert replay == first
    # a NEW epoch with the same rows applies (and doubles n_ops) — the
    # guard keys on epoch, not content
    apply_cdc_batch(feed, state, epoch_id=1)
    second = {r.user_id: r.n_ops for r in spark.read.parquet(state).collect()}
    assert second == {uid: 2 * v[3] for uid, v in first.items()}
    # swap hygiene: no _old/_new leftovers after a clean apply
    assert not os.path.exists(state + "_old")
    assert not os.path.exists(state + "_new")


# ---------------------------------------------------------------------------
# fd_profile: the approx face is runnable and close (VERDICT r9 #5)
# ---------------------------------------------------------------------------


def test_fd_profile_approx_face_bounds(spark, sf_dir):
    """exact=False must run the same profile through
    approx_count_distinct and land within HLL++ tolerance of the exact
    counts: strength_ppm within 10% relative, and the perfect FD
    (nation key → name) still detected as such within bounds."""
    from recommender_systems_pyspark_spark.operators.stats import fd_profile_core

    t = tables(spark, sf_dir)
    exact = {(r.tbl, r.lhs): r for r in fd_profile_core(t, exact=True).collect()}
    approx = {(r.tbl, r.lhs): r for r in fd_profile_core(t, exact=False).collect()}
    assert set(exact) == set(approx)
    for key, e in exact.items():
        a = approx[key]
        for col in ("ndv_lhs", "ndv_rhs", "ndv_pair"):
            rel = abs(getattr(a, col) - getattr(e, col)) / max(getattr(e, col), 1)
            assert rel <= 0.10, (key, col, getattr(a, col), getattr(e, col))
        assert abs(a.strength_ppm - e.strength_ppm) <= 0.15 * 1_000_000, key


# ---------------------------------------------------------------------------
# compaction apply: real files, preserved rows (VERDICT r9 #7)
# ---------------------------------------------------------------------------


def test_compact_files_one_file_per_group_and_checksum(spark, sf_dir, tmp_path):
    """compact_files must publish a snapshot with EXACTLY one data file
    per planned (source, group_id) and preserve the row multiset
    (bit_xor checksum + count per source)."""
    from recommender_systems_pyspark_spark.functions.warehouse import (
        _APPLY_FILE_MOD,
        _APPLY_TARGET,
        _doc_fingerprint,
        _files_per_toplevel_partition,
        _pack_manifest,
        compact_files,
    )
    from recommender_systems_pyspark_spark.sources.versioned import (
        read_snapshot,
        write_snapshot,
    )

    docs = tables(spark, sf_dir)["documents"]
    store = str(tmp_path / "store")
    frag = docs.select(
        "source",
        F.expr(
            f"CAST((row_number() OVER (PARTITION BY source ORDER BY doc_id)"
            f" - 1) DIV {_APPLY_FILE_MOD} AS BIGINT)"
        ).alias("file_id"),
        "doc_id",
        "n_chars",
        "text",
    ).repartition("source", "file_id")
    v1 = write_snapshot(frag, store, partition_by=("source", "file_id"))
    v2 = compact_files(spark, store, target=_APPLY_TARGET)
    assert v2 == v1 + 1

    planned = (
        _pack_manifest(
            frag.groupBy("source", "file_id").agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("bytes"),
            ),
            target=_APPLY_TARGET,
        )
        .groupBy("source")
        .agg(F.countDistinct("group_id").alias("n_groups"))
        .collect()
    )
    fs_after = _files_per_toplevel_partition(os.path.join(store, f"v={v2}"))
    assert fs_after == {r.source: r.n_groups for r in planned}

    def sig(version):
        return {
            r.source: (r["cnt"], r["fp"])
            for r in read_snapshot(spark, store, version)
            .select("source", _doc_fingerprint().alias("rh"))
            .groupBy("source")
            .agg(F.count("*").alias("cnt"), F.expr("bit_xor(rh)").alias("fp"))
            .collect()
        }

    assert sig(v1) == sig(v2)


# ---------------------------------------------------------------------------
# codec coverage probe (VERDICT r9 #8)
# ---------------------------------------------------------------------------


def test_codec_probe_outcomes_per_container():
    """Unit replay of the probe on hand-built payloads: supported
    containers decode, codec-library formats hit the NotImplementedError
    boundary, and the sniffer labels each from magic bytes alone."""
    import pandas as pd

    from recommender_systems_pyspark_spark.multimodal.media import (
        _sniff_container,
        codec_probe,
    )

    wav = (
        b"RIFF" + (36).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (16000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + b"data" + (2).to_bytes(4, "little") + b"ab"
    )
    cases = {
        b"P5\n2 1\n255\nab": ("pgm", "decoded"),
        wav: ("wav_u8", "decoded"),
        b"YUV4MPEG2 W2 H1 Cmono\nFRAME\nab": ("y4m_mono", "decoded"),
        b"YUV4MPEG2 W2 H1 C420\nFRAME\nab": ("y4m_420", "unsupported_codec"),
        b"\xff\xd8\xff\xe0payload": ("jpeg", "unsupported_codec"),
        b"\x89PNG\r\n\x1a\npayload": ("png", "unsupported_codec"),
        b"\x00\x00\x00 ftypisomrest": ("mp4", "unsupported_codec"),
        b"YUV4MPEG2 W9 H9 Cmono\nFRAME\nab": ("y4m_mono", "malformed"),
    }
    pdf = pd.DataFrame(
        {"doc_id": range(len(cases)), "payload_enc": list(cases.keys())}
    )
    (out,) = list(codec_probe(iter([pdf])))
    for (payload, (container, outcome)), row in zip(
        cases.items(), out.itertuples(index=False)
    ):
        assert _sniff_container(payload) == container
        assert (row.container, row.outcome) == (container, outcome), payload[:12]


# ---------------------------------------------------------------------------
# s14 streaming anomaly: the state fold is exactly the batch window
# ---------------------------------------------------------------------------


class _StubState:
    """Minimal GroupState stand-in for unit-folding _flag_user."""

    def __init__(self):
        self.exists = False
        self.get = None

    def update(self, tup):
        self.exists = True
        self.get = tup


def test_s14_fold_carries_state_across_batches():
    """Replaying one user's events as (a) a single batch and (b) two
    batches through _flag_user must yield identical per-event flags —
    and the second batch's flags must reflect the first batch's history
    (a value anomalous vs batch-0 history, normal vs an empty one)."""
    import pandas as pd

    from recommender_systems_pyspark_spark.streaming.anomaly import (
        _MIN_PRIOR,
        _flag_user,
    )

    # 8 calm events then a spike: with >= _MIN_PRIOR priors the spike flags
    vals = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 50.0, 10.0]
    pdf = pd.DataFrame(
        {"event_id": range(len(vals)), "user_id": 1, "value": vals}
    )

    def run(batches):
        st = _StubState()
        rows = []
        for b in batches:
            (out,) = list(_flag_user((1,), iter([b]), st))
            rows.append(out)
        got = pd.concat(rows).sort_values("event_id")
        return list(got["is_anomaly"]), st.get

    one, state_one = run([pdf])
    two, state_two = run([pdf.iloc[:6], pdf.iloc[6:]])
    assert one == two  # batch boundaries cannot change any flag
    assert state_one == state_two
    assert one[8]  # the 50.0 spike flags against the calm baseline
    # the 10.0 right after the spike does NOT flag: the spike inflated the
    # variance baseline — proof the flag at index 9 saw index 8's history
    assert not one[9]
    # the first _MIN_PRIOR events can never flag
    assert not any(one[:_MIN_PRIOR])


def test_s14_flags_are_non_vacuous_on_fixture(spark, sf_dir):
    """The registered stream must actually flag something on the fixture
    (an all-false column would hash-match a broken oracle of all-false)."""
    from recommender_systems_pyspark_spark.registry import all_queries

    rows = all_queries()["s14_stream_anomaly"].fn(spark, sf_dir).collect()
    n_flagged = sum(1 for r in rows if r.is_anomaly)
    assert len(rows) == 1000
    assert 0 < n_flagged < len(rows)


# ---------------------------------------------------------------------------
# x_graph_modularity invariants
# ---------------------------------------------------------------------------


def test_graph_modularity_invariants(spark, sf_dir):
    """The TOTAL row must be the exact sum of ALL community rows (not just
    the reported top-k), Q must sit in Newman's [-1/2, 1) range, the
    symmetric edge list makes every intra count even, and membership must
    cover every node exactly once."""
    from recommender_systems_pyspark_spark.functions.pagerank import (
        cached_copurchase_edges,
        x_graph_modularity,
    )

    rows = x_graph_modularity(spark, sf_dir).collect()
    total = rows[0]
    assert total.community == -1
    edges = cached_copurchase_edges(spark, sf_dir)
    e = edges.count()
    n_nodes = edges.select("src").distinct().count()
    assert total.n_members == n_nodes
    assert total.degree_sum == e  # Σ degrees = directed edge count
    assert total.intra_directed % 2 == 0
    assert -0.5 <= total.modularity < 1.0
    assert total.modularity == total.contrib_num / (e * e)
    for r in rows[1:]:
        assert r.intra_directed % 2 == 0
        assert r.contrib_num == r.intra_directed * e - r.degree_sum**2


# ---------------------------------------------------------------------------
# x_knn_ivfpq_topk: composed-index quality invariants
# ---------------------------------------------------------------------------


def test_ivfpq_recall_and_probe_containment(spark, sf_dir):
    """(a) Every IVF-PQ result must come from a probed cell; (b) recall@10
    of the ADC+re-rank stages vs the exact L2 top-10 WITHIN the probed
    cells must be high (the coarse probe's recall is a separate, tunable
    tradeoff measured end-to-end in (c))."""
    from recommender_systems_pyspark_spark.functions.centroids import (
        centroids_assembled,
    )
    from recommender_systems_pyspark_spark.functions.similarity import cosine, dot
    from recommender_systems_pyspark_spark.functions.vectors import (
        _IVFPQ_PROBES,
        x_knn_ivfpq_topk,
    )

    got = [r.vec_id for r in x_knn_ivfpq_topk(spark, sf_dir).collect()]
    assert len(got) == 10
    e = tables(spark, sf_dir)["embeddings"]
    q_emb = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    probed = (
        centroids_assembled(e)
        .crossJoin(F.broadcast(q_emb))
        .select("label", cosine(F.col("centroid"), F.col("qv")).alias("s"))
        .orderBy(F.col("s").desc(), "label")
        .limit(_IVFPQ_PROBES)
        .select("label")
    )
    cand = e.where(F.col("vec_id") != 0).join(F.broadcast(probed), "label", "left_semi")
    assert set(got) <= {r.vec_id for r in cand.select("vec_id").collect()}

    qv = e.where(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("qv")
    )
    d = F.zip_with(F.col("embedding"), F.col("qv"), lambda x, y: x.cast("double") - y)

    def l2_top10(frame):
        return [
            r.vec_id
            for r in frame.crossJoin(F.broadcast(qv))
            .select("vec_id", dot(d, d).alias("dist"))
            .orderBy("dist", "vec_id")
            .limit(10)
            .collect()
        ]

    within = l2_top10(cand)
    assert len(set(got) & set(within)) / 10 >= 0.7
    # (c) end-to-end floor vs the full exact scan: the 3-of-10-cells probe
    # bounds what any in-cell stage can recover on this unclustered fixture
    exact = l2_top10(e.where(F.col("vec_id") != 0))
    assert len(set(got) & set(exact)) / 10 >= 0.2


# ---------------------------------------------------------------------------
# PassJoin τ=1: lossless content-pigeonhole blocking
# ---------------------------------------------------------------------------


def test_passjoin_ed1_equals_naive(spark, sf_dir):
    """Pair-set equality with the naive all-pairs levenshtein form — on a
    crafted frame exercising every edit kind (substitution, insertion,
    deletion, equality, the 2-edit negative, the min-length exclusion)
    AND on the documents fixture's 40-char titles."""
    from recommender_systems_pyspark_spark.functions.blocking import (
        PASSJOIN_MIN_LEN,
        passjoin_pairs_ed1,
    )

    def naive(df):
        a, b = df.alias("a"), df.alias("b")
        return {
            (r[0], r[1])
            for r in a.join(
                b,
                (F.col("a.k") < F.col("b.k"))
                & (F.length("a.t") >= PASSJOIN_MIN_LEN)
                & (F.length("b.t") >= PASSJOIN_MIN_LEN)
                & (F.abs(F.length("a.t") - F.length("b.t")) <= 1),
            )
            .where(F.levenshtein(F.col("a.t"), F.col("b.t")) <= 1)
            .select(F.col("a.k"), F.col("b.k"))
            .collect()
        }

    crafted = spark.createDataFrame(
        [
            (1, "sparkly"),    # base
            (2, "sparkly"),    # equal → dist 0
            (3, "sporkly"),    # substitution in seg 0
            (4, "sparklyx"),   # insertion at end (seg 1)
            (5, "sparkl"),     # deletion at end
            (6, "xsparkly"),   # insertion at front (shifts both segs)
            (7, "spornly"),    # 2 edits from base → excluded
            (8, "spa"),        # below min length → excluded entirely
            (9, "parkly"),     # front deletion
            (10, "zzzzzzz"),   # unrelated
        ],
        "k bigint, t string",
    )
    got = {
        (r.a_k, r.b_k) for r in passjoin_pairs_ed1(crafted, "k", "t").collect()
    }
    assert got == naive(crafted)
    assert (1, 6) in got and (1, 9) in got  # indel shifts covered
    assert all(8 not in p for p in got)

    docs = tables(spark, sf_dir)["documents"].select(
        F.col("doc_id").alias("k"), F.substring("text", 1, 40).alias("t")
    ).where(F.octet_length("t") == F.length("t"))
    got_docs = {
        (r.a_k, r.b_k) for r in passjoin_pairs_ed1(docs, "k", "t").collect()
    }
    assert got_docs == naive(docs)
    assert len(got_docs) > 0  # non-vacuous on the fixture


# ---------------------------------------------------------------------------
# s15 streaming sessionizer with event-time timeout
# ---------------------------------------------------------------------------


def test_s15_both_close_paths_and_horizon(spark, sf_dir, tmp_path):
    """The stream must exercise BOTH close paths (successor arrival and
    watermark timeout), emit each closed session exactly once with the
    batch gap-split's exact contents, and hold back every session whose
    expiry the final watermark has not passed."""
    import os

    from pyspark.sql import Window

    from recommender_systems_pyspark_spark.session import scoped_conf
    from recommender_systems_pyspark_spark.sources import load_table
    from recommender_systems_pyspark_spark.streaming.session_timeout import (
        _DELAY_MIN,
        _GAP_US,
        _N_BATCHES,
        session_stream,
    )
    from recommender_systems_pyspark_spark.streaming.staging import (
        stage_ordered_files,
    )

    with scoped_conf(spark, {"spark.sql.session.timeZone": "UTC"}):
        d = str(tmp_path)
        feed = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts"
        )
        stage_ordered_files(feed, "event_id", _N_BATCHES, os.path.join(d, "src"))
        stream = (
            spark.readStream.schema(
                "event_id bigint, user_id bigint, ts timestamp_ntz"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "src"))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = (
            session_stream(stream)
            .writeStream.format("memory")
            .queryName("s15_test_sink")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.table("s15_test_sink").collect()
        reasons = {r.close_reason for r in got}
        assert reasons == {"new_session", "timeout"}

        # batch replay of the gap split
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        lagged = feed.withColumn("prev", F.lag("ts").over(w))
        split = lagged.withColumn(
            "is_new",
            (
                F.col("prev").isNull()
                | (F.timestamp_diff("MICROSECOND", "prev", "ts") > _GAP_US)
            ).cast("int"),
        ).withColumn(
            "sid",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        sess = {
            (r.user_id, r.st, r.en, r.n)
            for r in split.groupBy("user_id", "sid")
            .agg(
                F.min("ts").alias("st"),
                F.max("ts").alias("en"),
                F.count("*").alias("n"),
            )
            .collect()
        }
        emitted = {
            (r.user_id, r.session_start, r.session_end, r.n_events) for r in got
        }
        assert len(emitted) == len(got)  # each session exactly once
        assert emitted <= sess  # every emission IS a batch session
        # held-back = exactly the sessions inside the watermark horizon
        held = sess - emitted
        import datetime

        max_ts = feed.agg(F.max("ts")).collect()[0][0]
        wm = max_ts.replace(microsecond=max_ts.microsecond // 1000 * 1000) - \
            datetime.timedelta(minutes=_DELAY_MIN)
        gap = datetime.timedelta(microseconds=_GAP_US)
        for _uid, _st, en, _n in held:
            assert not (
                en.replace(microsecond=en.microsecond // 1000 * 1000) + gap < wm
            ), (en, wm)
