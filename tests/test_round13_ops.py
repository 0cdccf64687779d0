"""Round-13 operator tests: the new faces registered this round —
deterministic row stamping, aggregate IVM, HLL rollup, k-anonymity
generalization, medoids, NDCG, raking, CDC net-effect, assortativity,
and the composed media dedup."""

import math
import re

import pytest
from pyspark.sql import functions as F

from recommender_systems_pyspark_spark.registry import all_queries

from tests.conftest import SF_ORACLE, SF_SMOKE


def _q(name):
    return all_queries()[name].fn


# ---------------------------------------------------------------------------
# f7_f8_row_metadata_det
# ---------------------------------------------------------------------------


def test_f7f8_det_stable_and_shaped(spark):
    fn = _q("f7_f8_row_metadata_det")
    a = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))
    # byte-identical across runs — the idempotent-re-publish property the
    # nondeterministic sibling (uuid()/now()) cannot offer
    assert a == b
    uuid_re = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")
    assert all(uuid_re.match(r[1]) for r in a)
    # stamped_at is the data watermark, not wall clock
    from recommender_systems_pyspark_spark.sources import tables

    mx = tables(spark, SF_SMOKE)["events"].agg(F.max("ts")).collect()[0][0]
    assert all(r[2] == mx for r in a)


# ---------------------------------------------------------------------------
# x_ivm_agg_delta
# ---------------------------------------------------------------------------


def test_ivm_agg_delta_matches_scratch_recompute(spark):
    """The delta-maintained view must equal the from-scratch aggregate over
    the final state (base − deletes + inserts), with no zero/negative
    groups surviving."""
    from recommender_systems_pyspark_spark.sources import tables

    got = {
        (r.event_type, r.user_mod): (r.n_events, r.value_cents)
        for r in _q("x_ivm_agg_delta")(spark, SF_SMOKE).collect()
    }
    ev = tables(spark, SF_SMOKE)["events"]
    fin = ev.where(
        ((F.col("event_id") % 11 != 0) & (F.col("event_id") % 13 != 0))
        | (F.col("event_id") % 11 == 0)
    )
    want = {
        (r.event_type, r.user_mod): (r.n, r.c)
        for r in fin.groupBy(
            "event_type", (F.col("user_id") % 97).cast("long").alias("user_mod")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("c"),
        )
        .collect()
    }
    assert got == want
    assert all(n > 0 for n, _ in got.values())


def test_ivm_agg_delta_drops_emptied_group(spark):
    """A group whose every member is deleted must VANISH from the
    maintained view (the classic aggregate-IVM subtlety), proven on a
    crafted frame run through the same signed-partial merge shape."""
    rows = [
        # group 'a': two base rows, both deleted -> must vanish
        (1, "a", 10.0),
        (2, "a", 20.0),
        # group 'b': one base row kept, one insert
        (3, "b", 30.0),
        (4, "b", 40.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, k string, value double")
    base = df.where(F.col("event_id") <= 3)
    deletes = base.where(F.col("k") == "a").withColumn("sign", F.lit(-1).cast("long"))
    inserts = df.where(F.col("event_id") == 4).withColumn("sign", F.lit(1).cast("long"))
    m0 = base.groupBy("k").agg(
        F.count("*").cast("long").alias("n"), F.sum("value").alias("v")
    )
    dm = (
        deletes.unionByName(inserts)
        .groupBy("k")
        .agg(
            F.sum("sign").alias("n"),
            F.sum(F.col("sign") * F.col("value")).alias("v"),
        )
    )
    out = (
        m0.unionByName(dm)
        .groupBy("k")
        .agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
        .where(F.col("n") > 0)
        .collect()
    )
    assert {r.k: (r.n, r.v) for r in out} == {"b": (2, 70.0)}


# ---------------------------------------------------------------------------
# x_hll_rollup_merge
# ---------------------------------------------------------------------------


def test_hll_rollup_bound_and_shape(spark):
    rows = _q("x_hll_rollup_merge")(spark, SF_ORACLE).collect()
    assert len(rows) == 30  # fixture spans 30 days
    for r in rows:
        assert 1 <= r.n_hour_sketches <= 24
        assert r.exact_distinct > 0
        # merged estimate within the declared 2% bound of exact
        assert r[3] == 0


# ---------------------------------------------------------------------------
# x_kanon_generalize
# ---------------------------------------------------------------------------


def test_kanon_generalize_ladder_properties(spark):
    rows = sorted(
        _q("x_kanon_generalize")(spark, SF_ORACLE).collect(),
        key=lambda r: r.rung,
    )
    assert [r.rung for r in rows] == [0, 1, 2, 3, 4]
    # the rungs are NESTED coarsenings, so below-k mass can only shrink
    below = [r.n_rows_below_k for r in rows]
    assert all(a >= b for a, b in zip(below, below[1:]))
    # class count can only shrink under merging
    classes = [r.n_classes for r in rows]
    assert all(a >= b for a, b in zip(classes, classes[1:]))
    # exactly one chosen rung: the first k_ok one
    chosen = [r.rung for r in rows if r.chosen]
    first_ok = min(r.rung for r in rows if r.k_ok)
    assert chosen == [first_ok]


# ---------------------------------------------------------------------------
# x_cluster_medoids
# ---------------------------------------------------------------------------


def test_cluster_medoids_are_argmax_members(spark):
    """Brute-force one cell in numpy: the elected medoid must be a member
    and beat every other member's centroid cosine (ties by lowest id)."""
    import numpy as np

    from recommender_systems_pyspark_spark.sources import tables

    out = {r.label: r for r in _q("x_cluster_medoids")(spark, SF_SMOKE).collect()}
    emb = tables(spark, SF_SMOKE)["embeddings"].collect()
    by_label = {}
    for r in emb:
        by_label.setdefault(r.label, []).append((r.vec_id, np.array(r.embedding, dtype=np.float64)))
    assert set(out) == set(by_label)
    for label, members in by_label.items():
        assert out[label].cell_size == len(members)
        quantum = 1_000_000_000.0
        mat = np.stack([v for _, v in members])
        cent = np.floor(mat * quantum).sum(axis=0) / len(members) / quantum
        def cos(v):
            return float(v @ cent / math.sqrt(v @ v) / math.sqrt(cent @ cent))
        best = max(((cos(v), -vid) for vid, v in members))
        best_id = -best[1]
        assert out[label].medoid_vec_id == best_id
        assert out[label].medoid_cos == pytest.approx(best[0], rel=1e-9)


# ---------------------------------------------------------------------------
# x_ndcg_eval
# ---------------------------------------------------------------------------


def test_ndcg_weights_are_log2_discounts():
    from recommender_systems_pyspark_spark.ml.evaluation import _NDCG_P, _NDCG_W

    want = tuple(round(1e6 / math.log2(i + 2)) for i in range(len(_NDCG_W)))
    assert _NDCG_W == want
    acc = 0
    for w, p in zip(_NDCG_W, _NDCG_P):
        acc += w
        assert p == acc


def test_ndcg_bounds_and_monotonicity(spark):
    rows = sorted(_q("x_ndcg_eval")(spark, SF_ORACLE).collect(), key=lambda r: r.k)
    assert [r.k for r in rows] == [1, 2, 3, 4, 5]
    n_eval = {r.n_eval for r in rows}
    assert len(n_eval) == 1 and n_eval.pop() > 0
    for r in rows:
        assert 0 <= r.dcg_sum_scaled <= r.idcg_sum_scaled
    for a, b in zip(rows, rows[1:]):
        # deeper cutoffs only add nonnegative gain terms
        assert b.dcg_sum_scaled >= a.dcg_sum_scaled
        assert b.idcg_sum_scaled >= a.idcg_sum_scaled
    # some relevant item is actually recommended on this fixture
    assert rows[-1].dcg_sum_scaled > 0


# ---------------------------------------------------------------------------
# x_raking_weights
# ---------------------------------------------------------------------------


def test_raking_converges_to_reference_marginals(spark):
    """After the final COLUMN pass the weighted column marginals must hit
    the reference column targets to within integer-truncation slack, and
    row marginals must be close (raking alternates, so the last-fitted
    dimension is exact up to truncation)."""
    from recommender_systems_pyspark_spark.sources import tables

    rows = _q("x_raking_weights")(spark, SF_ORACLE).collect()
    docs = tables(spark, SF_ORACLE)["documents"]
    ref = docs.where(F.col("doc_id") % 2 == 0)
    ct = {r.lang: r.n for r in ref.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    rt = {r.source: r.n for r in ref.groupBy("source").agg(F.count("*").alias("n")).collect()}
    col_mass, row_mass = {}, {}
    for r in rows:
        assert r.weight_ppm >= 0
        col_mass[r.lang] = col_mass.get(r.lang, 0) + r.n_docs * r.weight_ppm
        row_mass[r.source] = row_mass.get(r.source, 0) + r.n_docs * r.weight_ppm
    sc = 1_000_000
    for lang, target in ct.items():
        # per-cell truncation loses < 1 ppm-unit each; ~20 cells per lang
        assert abs(col_mass[lang] / sc - target) < 0.05 * target + 1
    for source, target in rt.items():
        assert abs(row_mass[source] / sc - target) < 0.10 * target + 1


# ---------------------------------------------------------------------------
# x_cdc_net_effect
# ---------------------------------------------------------------------------


def test_cdc_net_effect_conserves_and_applies(spark):
    """Net-effect classes must cover every feed row exactly once, and
    applying the NET ops to the base-membership set must equal applying
    the FULL feed (the compaction-correctness property)."""
    from recommender_systems_pyspark_spark.streaming.cdc_apply import changefeed

    rows = _q("x_cdc_net_effect")(spark, SF_SMOKE).collect()
    feed = changefeed(spark, SF_SMOKE)
    assert sum(r.n_src_ops for r in rows) == feed.count()
    assert {r.net_op for r in rows} <= {"INSERT", "UPDATE", "DELETE", "NOOP"}
    # direct last-writer-wins: final live keys under the full feed
    last = feed.groupBy("user_id").agg(
        F.max_by("op", "version").alias("op")
    )
    live_new = last.where(
        (F.col("op") == "U") & (F.col("user_id") % 3 != 0)
    ).count()
    live_upd = last.where(
        (F.col("op") == "U") & (F.col("user_id") % 3 == 0)
    ).count()
    dead_base = last.where(
        (F.col("op") == "D") & (F.col("user_id") % 3 == 0)
    ).count()
    by_op = {r.net_op: r.n_keys for r in rows}
    assert by_op.get("INSERT", 0) == live_new
    assert by_op.get("UPDATE", 0) == live_upd
    assert by_op.get("DELETE", 0) == dead_base


# ---------------------------------------------------------------------------
# x_graph_assortativity
# ---------------------------------------------------------------------------


def test_assortativity_moment_identities(spark):
    """Σ du over edge rows must equal Σ d(v)² over nodes, and the edge-row
    count Σ d(v) — internal identities an implementation bug (wrong join
    side, dropped rows) breaks immediately."""
    from recommender_systems_pyspark_spark.functions.pagerank import (
        cached_copurchase_edges,
    )

    row = _q("x_graph_assortativity")(spark, SF_SMOKE).collect()[0]
    deg = (
        cached_copurchase_edges(spark, SF_SMOKE)
        .groupBy("src")
        .agg(F.count("*").alias("d"))
    )
    stats = deg.agg(
        F.count("*").alias("n"),
        F.sum("d").alias("sd"),
        F.sum(F.col("d") * F.col("d")).alias("sd2"),
        F.min("d").alias("mn"),
        F.max("d").alias("mx"),
    ).collect()[0]
    assert row.n_nodes == stats.n
    assert row.n_edge_rows == stats.sd
    assert row.sum_du == stats.sd2
    assert row.min_degree == stats.mn and row.max_degree == stats.mx
    # symmetric graph: the Cauchy-Schwarz bound on the cross moment
    assert row.sum_dudv <= row.sum_du2


# ---------------------------------------------------------------------------
# x_media_dedup_e2e
# ---------------------------------------------------------------------------


def test_media_dedup_histogram_matches_union_find(spark):
    """Replay the clustering with a driver-side union-find over the SAME
    thresholded pair set and compare the histogram — proves the
    distributed hash-to-min components compute the true transitive
    closure."""
    from recommender_systems_pyspark_spark.multimodal.media import (
        _MEDIA_DEDUP_HAM,
        ahash_scored_pairs,
        encoded_media_table,
    )

    got = {
        r.cluster_size: (r.n_clusters, r.n_dropped)
        for r in _q("x_media_dedup_e2e")(spark, SF_SMOKE).collect()
    }
    pairs = [
        (r.doc_a, r.doc_b)
        for r in ahash_scored_pairs(spark, SF_SMOKE)
        .where(F.col("hamming") <= _MEDIA_DEDUP_HAM)
        .collect()
    ]
    imgs = [
        r.doc_id
        for r in encoded_media_table(spark, SF_SMOKE)
        .where(
            (F.col("media_type") == "image")
            & (F.col("byte_len") > 0)
            & (
                F.col("byte_len")
                == F.char_length(F.decode(F.col("payload"), "UTF-8"))
            )
        )
        .select("doc_id")
        .collect()
    ]
    parent = {i: i for i in imgs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes = {}
    for i in imgs:
        sizes[find(i)] = sizes.get(find(i), 0) + 1
    hist = {}
    for s in sizes.values():
        hist[s] = hist.get(s, 0) + 1
    want = {s: (n, n * (s - 1)) for s, n in hist.items()}
    assert got == want
    assert sum(s * n for s, (n, _) in got.items()) == len(imgs)


# ---------------------------------------------------------------------------
# x_winsorized_stats
# ---------------------------------------------------------------------------


def test_winsorized_stats_python_replay(spark):
    """Full numpy-free python replay: exact rank-disc cutoffs, clamp, sums."""
    from recommender_systems_pyspark_spark.sources import tables

    got = {r.grp: r for r in _q("x_winsorized_stats")(spark, SF_SMOKE).collect()}
    rows = tables(spark, SF_SMOKE)["orders"].select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    by = {}
    for r in rows:
        by.setdefault(r.o_orderpriority, []).append(
            int(r.o_totalprice * 100 + 0.5) if r.o_totalprice >= 0
            else int(__import__("math").floor(r.o_totalprice * 100 + 0.5))
        )
    assert set(got) == set(by)
    for g, cents in by.items():
        cents.sort()
        n = len(cents)
        lo = cents[(n * 5 + 99) // 100 - 1]
        hi = cents[(n * 95 + 99) // 100 - 1]
        w = [min(max(c, lo), hi) for c in cents]
        r = got[g]
        assert (r.lo_cents, r.hi_cents) == (lo, hi)
        assert r.n_rows == n
        assert r.sum_cents_raw == sum(cents)
        assert r.sum_cents_winsorized == sum(w)
        assert r.n_clamped_low == sum(1 for c in cents if c < lo)
        assert r.n_clamped_high == sum(1 for c in cents if c > hi)
        # winsorization moves the sum TOWARD the interior, never past it
        assert r.n_clamped_low + r.n_clamped_high > 0 or r.sum_cents_raw == r.sum_cents_winsorized


# ---------------------------------------------------------------------------
# x_embed_centroid_drift
# ---------------------------------------------------------------------------


def test_embed_centroid_drift_numpy_replay(spark):
    import numpy as np

    from recommender_systems_pyspark_spark.sources import tables

    got = {r.label: r for r in _q("x_embed_centroid_drift")(spark, SF_SMOKE).collect()}
    emb = tables(spark, SF_SMOKE)["embeddings"].collect()
    halves = {}
    for r in emb:
        halves.setdefault(r.label, ([], []))[r.vec_id % 2].append(
            np.array(r.embedding, dtype=np.float64)
        )
    q = 1_000_000_000.0
    for label, (old, new) in halves.items():
        r = got[label]
        assert (r.n_old, r.n_new) == (len(old), len(new))
        co = np.floor(np.stack(old) * q).sum(axis=0) / len(old) / q
        cn = np.floor(np.stack(new) * q).sum(axis=0) / len(new) / q
        import math

        cos = float(co @ cn / math.sqrt(co @ co) / math.sqrt(cn @ cn))
        assert r.centroid_cos == pytest.approx(cos, rel=1e-9)
        # cosine is a valid similarity, nothing more is promised: at
        # smoke scale (25 vectors/half) sample centroids of near-zero-
        # mean cells can be close to orthogonal — that is exactly the
        # signal the monitor exists to surface, not a test failure
        assert -1.0 <= r.centroid_cos <= 1.0
