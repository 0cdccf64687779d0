"""Tests for connected-components dedup clustering (functions/graph.py)
and the corpus-quality / embedding-statistics operators
(functions/corpus.py). Oracle equality for the SQL-expressible queries is
covered by tools/verify_local.py + the driver gate; these tests pin the
algorithmic properties the oracle can't see."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _union_find(nodes, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Ground-truth components: plain driver-side union-find, min-id label."""
    parent = {v: v for v in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _random_graphs() -> tuple[int, list[tuple[int, int]]]:
    """Four random graphs (seed, nodes, edge draws; self-loops dropped) as
    one disjoint union — each graph's ids shifted past the previous one's
    — so a single components run checks all of them."""
    base, edges = 0, []
    for seed, n, m in ((42, 200, 150), (7, 120, 80), (11, 120, 200), (13, 60, 30)):
        rng = random.Random(seed)
        draws = ((rng.randrange(n), rng.randrange(n)) for _ in range(m))
        edges += [(base + a, base + b) for a, b in draws if a != b]
        base += n
    return base, edges


def _chain(n: int) -> tuple[int, list[tuple[int, int]]]:
    """A path graph: diameter n-1, the worst case for label propagation."""
    return n, [(i, i + 1) for i in range(n - 1)]


@pytest.mark.parametrize(
    "graph, max_iter, converges",
    [
        pytest.param(_random_graphs(), None, True, id="random"),
        pytest.param(_chain(30), 30, True, id="chain30"),
        pytest.param(_chain(60), 20, True, id="chain60"),
        pytest.param(_chain(60), 1, False, id="chain60-max_iter1"),
    ],
)
def test_connected_components_matches_union_find(spark, graph, max_iter, converges):
    """Hash-to-min agrees with driver-side union-find on random graphs and
    labels a deep chain 0 within ``max_iter`` rounds; a run still moving
    after ``max_iter`` rounds raises instead of splitting a component."""
    from recommender_systems_pyspark_spark.functions.graph import connected_components

    n, edges = graph
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    if not converges:
        with pytest.raises(RuntimeError, match=f"did not converge in {max_iter} rounds"):
            connected_components(edges_df, spark.range(n), max_iter)
        return
    comp = connected_components(edges_df, spark.range(n), max_iter).collect()
    assert {r.id: r.component for r in comp} == _union_find(range(n), edges)


def test_edges_are_evaluated_once(spark):
    """The edge plan runs once, however many rounds follow and though every
    round reads it in both directions: a counting UDF in it sees each of
    the n edge rows once, not once per direction."""
    from pyspark.sql.types import LongType

    from recommender_systems_pyspark_spark.functions.graph import connected_components

    n = 12
    seen = spark.sparkContext.accumulator(0)

    def counted(x):
        seen.add(1)
        return x

    src = F.udf(counted, LongType()).asNondeterministic()
    edges = spark.range(n).select(src("id").alias("src"), (F.col("id") + 1).alias("dst"))
    comp = connected_components(edges, spark.range(n + 1))
    assert {r.component for r in comp.collect()} == {0}
    assert seen.value == n


def test_cluster_keep_partitions_corpus(spark, sf_dir):
    """Every cluster elects exactly one keeper; cluster sizes sum to the
    corpus size; keepers' cluster_ids are distinct."""
    from recommender_systems_pyspark_spark.registry import all_queries

    specs = all_queries()
    docs_n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    keep = specs["x_dedup_cluster_keep"].fn(spark, sf_dir).collect()
    assert sum(r.cluster_size for r in keep) == docs_n
    assert len({r.cluster_id for r in keep}) == len(keep)
    # the keeper belongs to its own cluster (cluster_id = min member id ≤ keeper id)
    assert all(r.cluster_id <= r.keep_doc_id for r in keep)


def test_clusters_transitive_closure(spark):
    """Crafted corpus: docs 0=1 (exact copies), 1~2 (near-dup), 2~3
    (near-dup) but 0 vs 3 well below threshold — the component must still
    chain all four together (transitivity is exactly what the pair join
    alone cannot give). Doc 4 is unrelated → singleton."""
    import tempfile

    from recommender_systems_pyspark_spark.functions.graph import x_dedup_clusters

    base = [f"tok{i}" for i in range(40)]

    def doc(drop: int) -> str:
        # each step replaces `drop` leading tokens — consecutive versions
        # share most shingles, distant versions far fewer
        return " ".join([f"alt{drop}_{j}" for j in range(drop)] + base[drop:])

    texts = [doc(0), doc(0), doc(1), doc(2), " ".join(f"zzz{i}" for i in range(40))]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(f"{d}/documents.parquet")
        comp = {r.doc_id: r.cluster_id for r in x_dedup_clusters(spark, d).collect()}
    assert comp[0] == comp[1] == comp[2] == comp[3] == 0
    assert comp[4] == 4


def test_embed_assign_recovers_labels(spark, sf_dir):
    """Fixture embeddings carry label structure (loosely — clusters
    overlap at this dimensionality), so the nearest-centroid classifier
    must beat the 1/n_labels chance rate by a clear margin."""
    from recommender_systems_pyspark_spark.registry import all_queries

    rows = all_queries()["x_embed_assign"].fn(spark, sf_dir).collect()
    acc = sum(r.is_correct for r in rows) / len(rows)
    n_labels = len({r.label for r in rows})
    assert acc >= 1.5 / n_labels, f"accuracy {acc:.2f} vs chance {1 / n_labels:.2f}"
    # every vector classified exactly once
    assert len({r.vec_id for r in rows}) == len(rows)


def test_embed_centroids_shape(spark, sf_dir):
    from recommender_systems_pyspark_spark.registry import all_queries

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_labels = emb.select("label").distinct().count()
    dims = len(emb.first().embedding)
    cent = all_queries()["x_embed_centroids"].fn(spark, sf_dir)
    assert cent.count() == n_labels * dims


def test_quality_gopher_flags_degenerate_doc(spark):
    """A degenerate all-numbers 'document' must fail the alphabetic-word
    rule; normal fixture-style prose must pass."""
    from recommender_systems_pyspark_spark.functions.corpus import x_quality_gopher

    # run the same expressions over a crafted frame via the query's internals:
    # build a one-off documents.parquet-shaped table and reuse the query fn
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        good_text = "the quick brown fox jumps over a lazy dog " * 5
        bad_text = " ".join(str(i) for i in range(40))
        spark.createDataFrame(
            [(1, good_text.strip(), "en", "s", len(good_text)),
             (2, bad_text, "en", "s", len(bad_text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(f"{d}/documents.parquet")
        rows = {r.doc_id: r for r in x_quality_gopher(spark, d).collect()}
    assert rows[1].keep
    assert not rows[2].keep
    assert rows[2].alpha_frac == 0.0


def test_repetition_flags_repeated_text(spark):
    """A doc that is one phrase repeated must be flagged repetitive; varied
    text must not."""
    from recommender_systems_pyspark_spark.functions.corpus import x_text_repetition

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        rep = "buy now " * 30
        varied = " ".join(f"w{i}" for i in range(60))
        spark.createDataFrame(
            [(1, rep.strip(), "en", "s", len(rep)),
             (2, varied, "en", "s", len(varied))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(f"{d}/documents.parquet")
        rows = {r.doc_id: r for r in x_text_repetition(spark, d).collect()}
    assert rows[1].repetitive
    assert rows[1].dup_frac > 0.9
    assert not rows[2].repetitive


def test_kmeans_inertia_monotone_and_deterministic(spark, sf_dir):
    """Lloyd's guarantees non-increasing inertia; deterministic seeding and
    quantized centroid updates make reruns identical. The inertia trace is
    the assignment's total distance after each one-round lloyd step."""
    from pyspark.sql import functions as FF

    from recommender_systems_pyspark_spark.functions.vectors import (
        kmeans,
        lloyd,
        nearest_centroid,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")

    def train() -> tuple[list[float], set[tuple[int, int]]]:
        cent = kmeans(e, k=4, n_iter=0)  # the seeds
        inertia = []
        for _ in range(4):
            cent = lloyd(e, cent, "embedding", 1)
            assigned = nearest_centroid(e, cent, "embedding")
            inertia.append(assigned.agg(FF.sum("dist")).collect()[0][0])
        return inertia, {(r.vec_id, r.cell) for r in assigned.collect()}

    inertia, rows1 = train()
    for prev, nxt in zip(inertia, inertia[1:]):
        assert nxt <= prev * (1 + 1e-9), f"inertia increased: {inertia}"
    assert len(rows1) == e.count()  # every vector assigned exactly once
    assert len({c for _, c in rows1}) <= 4
    _, rows2 = train()
    assert rows1 == rows2


def test_quantize_error_bounded_by_step(spark, sf_dir):
    """Uniform 256-level quantization with clamping: max abs error per
    dimension is at most the dim's step size (range/256 · 1.5 for the
    clamped edge bins); MSE ≤ max_abs_err²."""
    from recommender_systems_pyspark_spark.registry import all_queries

    rows = all_queries()["x_embed_quantize_error"].fn(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from pyspark.sql import functions as FF

    stats = (
        emb.select(FF.posexplode("embedding").alias("i", "v"))
        .groupBy("i")
        .agg((FF.max("v") - FF.min("v")).alias("rng"))
        .agg(FF.max("rng").alias("max_rng"))
        .collect()[0]
    )
    step_bound = 1.5 * stats.max_rng / 256
    for r in rows:
        assert 0 <= r.mse <= r.max_abs_err**2 + 1e-15
        assert r.max_abs_err <= step_bound, (r.vec_id, r.max_abs_err, step_bound)


def test_unigram_score_orders_common_vs_rare(spark):
    """A doc made of the corpus's most common tokens must score higher
    (head bucket) than a doc of hapaxes (tail bucket)."""
    import tempfile

    from recommender_systems_pyspark_spark.functions.corpus import x_text_unigram_score

    common = ("the cat " * 20).strip()
    rares = " ".join(f"rare{i}" for i in range(40))
    mixed = ("the cat " * 10 + " ".join(f"mid{i}" for i in range(20))).strip()
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, common, "en", "s", len(common)),
             (2, rares, "en", "s", len(rares)),
             (3, mixed, "en", "s", len(mixed))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(f"{d}/documents.parquet")
        rows = {r.doc_id: r for r in x_text_unigram_score(spark, d).collect()}
    assert rows[1].score > rows[3].score > rows[2].score
    assert rows[1].bucket == "head" and rows[2].bucket == "tail"


def test_mixture_interleave_upsamples_small_sources(spark, sf_dir):
    """Reading in mix_key order, a source's share of any prefix tracks
    sqrt(n_source) ratios — small sources appear more often than their raw
    proportion. Keys are unique and every doc gets one."""
    from recommender_systems_pyspark_spark.registry import all_queries

    rows = all_queries()["x_mixture_interleave"].fn(spark, sf_dir).collect()
    docs_n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == docs_n
    assert len({(r.source, r.pos) for r in rows}) == docs_n

    import collections
    import math

    n_by_src = collections.Counter(r.source for r in rows)
    prefix = sorted(rows, key=lambda r: (r.mix_key, r.source, r.pos))[: docs_n // 3]
    pref_by_src = collections.Counter(r.source for r in prefix)
    total_sqrt = sum(math.sqrt(v) for v in n_by_src.values())
    for src, n_s in n_by_src.items():
        expect = len(prefix) * math.sqrt(n_s) / total_sqrt
        assert abs(pref_by_src[src] - expect) <= max(3, 0.25 * expect), (
            src, pref_by_src[src], expect,
        )


def test_pq_topk_recall_determinism_geometry(spark, sf_dir):
    """Product quantization: (a) codes lie in the m×k grid with exactly m
    codes per vector; (b) ADC top-10 recalls a meaningful fraction of the
    exact L2 top-10 (8×16 codebooks on 64-dim data keep coarse structure);
    (c) the whole train→encode→search path is deterministic across runs."""
    from pyspark.sql import functions as FF

    from recommender_systems_pyspark_spark.functions.similarity import dot
    from recommender_systems_pyspark_spark.functions.vectors import (
        _PQ_K,
        _PQ_M,
        pq_encode,
        pq_train,
    )
    from recommender_systems_pyspark_spark.registry import all_queries

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    n = e.count()

    cent = pq_train(e)
    codes = pq_encode(e, cent).collect()
    assert len(codes) == n * _PQ_M
    assert {r.sub for r in codes} == set(range(_PQ_M))
    assert all(0 <= r.cell < _PQ_K for r in codes)

    approx = [r.vec_id for r in all_queries()["x_embed_pq_topk"].fn(spark, sf_dir).collect()]
    assert len(approx) == 10

    q = e.where(FF.col("vec_id") == 0).select(
        FF.transform("embedding", lambda x: x.cast("double")).alias("qv")
    )
    d = FF.zip_with(FF.col("embedding"), FF.col("qv"), lambda x, y: x.cast("double") - y)
    exact = [
        r.vec_id
        for r in e.where(FF.col("vec_id") != 0)
        .crossJoin(FF.broadcast(q))
        .select("vec_id", dot(d, d).alias("dist"))
        .orderBy("dist", "vec_id")
        .limit(10)
        .collect()
    ]
    recall = len(set(approx) & set(exact)) / 10
    assert recall >= 0.5, (
        f"PQ shortlist+rerank recall@10 too low: {recall} "
        f"(approx={approx}, exact={exact})"
    )

    approx2 = [r.vec_id for r in all_queries()["x_embed_pq_topk"].fn(spark, sf_dir).collect()]
    assert approx == approx2


def test_bfs_hops_frontier_invariants(spark, sf_dir):
    """BFS correctness from first principles at fixture scale: seeds are
    exactly the % 97 nodes at hops 0; every reached non-seed node has a
    reached neighbor one hop closer (witness property); no neighbor pair
    differs by more than 1 hop unless one is beyond the round horizon."""
    from recommender_systems_pyspark_spark.functions.pagerank import (
        _BFS_ROUNDS,
        _SEED_MOD,
        copurchase_edges,
        x_bfs_hops,
    )

    hops = {r.part_key: r.hops for r in x_bfs_hops(spark, sf_dir).collect()}
    assert hops, "graph unreachable from seeds at fixture scale?"
    edges = [
        (r.src, r.dst) for r in copurchase_edges(spark, sf_dir).collect()
    ]
    nbrs: dict[int, set[int]] = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
    seeds = {n for n in nbrs if n % _SEED_MOD == 0}
    assert seeds == {n for n, h in hops.items() if h == 0}
    assert max(hops.values()) <= _BFS_ROUNDS
    for n, h in hops.items():
        if h > 0:
            assert any(
                hops.get(m, 10**9) == h - 1 for m in nbrs[n]
            ), f"node {n} at hops {h} has no witness neighbor at {h-1}"
    # frontier horizon: a reached node's neighbor is reached unless the
    # round budget ended exactly at this node's depth
    for n, h in hops.items():
        if h < _BFS_ROUNDS:
            for m in nbrs[n]:
                assert m in hops and hops[m] <= h + 1


def test_bfs_delta_frontier_joins_only_new_nodes(spark, sf_dir):
    """The r7 delta-frontier rewrite's load-bearing property (VERDICT r6
    #3): per-round join input is the NEWLY settled ring, so the traced
    deltas must partition the settled set (disjoint, summing to it with
    the seeds) and match the per-depth hop histogram — i.e. round k
    expanded exactly the distance-k ring once, never the accumulated
    reached set."""
    from collections import Counter

    from recommender_systems_pyspark_spark.functions.pagerank import (
        _BFS_ROUNDS,
        _SEED_MOD,
        bfs_settled,
        copurchase_edges,
    )
    from pyspark.sql import functions as F

    edges = copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    seeds = (
        edges.select("src")
        .distinct()
        .where(F.col("src") % _SEED_MOD == 0)
        .select(F.col("src").alias("node"), F.lit(0).alias("hops"))
    )
    trace: list[int] = []
    settled = bfs_settled(edges, seeds, _BFS_ROUNDS, trace=trace).collect()
    n_seeds = seeds.count()
    by_depth = Counter(r.hops for r in settled)
    assert len(settled) == len({r.node for r in settled}), "settled not a set"
    assert by_depth[0] == n_seeds
    assert len(trace) == _BFS_ROUNDS
    # delta_k is exactly the distance-k ring — the anti-join admitted each
    # node once, in its first-reach round
    for k in range(1, _BFS_ROUNDS + 1):
        assert trace[k - 1] == by_depth.get(k, 0), (
            f"round {k} delta {trace[k-1]} != ring size {by_depth.get(k, 0)}"
        )
    assert n_seeds + sum(trace) == len(settled)
    # the rewrite's point: later rounds join far fewer rows than the
    # accumulated reached set the r6 shape re-expanded
    reached_before_last = n_seeds + sum(trace[:-1])
    assert trace[-1] < reached_before_last
