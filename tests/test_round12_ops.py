"""Round-12 operator tests: ADVICE-r11 ingest/staging hardening plus the
new faces registered this round (x_fd_profile_approx, x_mor_compact_e2e)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


# ---------------------------------------------------------------------------
# ADVICE r11 #1: header removal must be positional, not content-based
# ---------------------------------------------------------------------------


def test_tsv_header_skip_is_positional_not_content(spark, tmp_path):
    """A header-equal line PAST position 0 is data masquerading as a header:
    it must land in quarantine (visible), not be silently dropped. The
    all-string schema is the trap — such a line PARSES clean, so only the
    explicit header-equality route catches it."""
    from recommender_systems_pyspark_spark.sources.ingest import (
        read_tsv_quarantine,
    )

    schema = StructType(
        [StructField("id", StringType()), StructField("name", StringType())]
    )
    p = tmp_path / "feed.tsv"
    # line 0: real header; line 2: stray header-equal DATA line
    p.write_text("id\tname\na\talice\nid\tname\nb\tbob\n")
    clean, quar = read_tsv_quarantine(spark, str(p), schema)
    assert sorted(r.id for r in clean.collect()) == ["a", "b"]
    q = quar.collect()
    assert len(q) == 1 and q[0].raw_line == "id\tname"


def test_tsv_headerless_file_first_line_is_data(spark, tmp_path):
    """A part-file whose first line is real data (headerless) is parsed in
    full — the old content-based filter was already safe here, the
    positional one must stay safe."""
    from recommender_systems_pyspark_spark.sources.ingest import (
        read_tsv_quarantine,
    )

    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    p = tmp_path / "feed.tsv"
    p.write_text("1\talice\n2\tbob\n")
    clean, quar = read_tsv_quarantine(spark, str(p), schema)
    assert sorted((r.id, r.name) for r in clean.collect()) == [
        (1, "alice"),
        (2, "bob"),
    ]
    assert quar.count() == 0


def test_tsv_header_skip_is_per_file(spark, tmp_path):
    """Multi-file feed: each file's position-0 header is dropped
    independently; every data row of every file survives."""
    from recommender_systems_pyspark_spark.sources.ingest import (
        read_tsv_quarantine,
    )

    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    d = tmp_path / "feed"
    d.mkdir()
    (d / "part0.tsv").write_text("id\tname\n1\ta\n")
    (d / "part1.tsv").write_text("id\tname\n2\tb\n3\tc\n")
    clean, quar = read_tsv_quarantine(spark, str(d), schema)
    assert sorted(r.id for r in clean.collect()) == [1, 2, 3]
    assert quar.count() == 0


# ---------------------------------------------------------------------------
# ADVICE r11 #3: all-null dead-letter parity between the TSV/JSONL siblings
# ---------------------------------------------------------------------------


def test_tsv_all_null_row_is_quarantined_like_jsonl(spark, tmp_path):
    """A line that from_csv parses to an all-null row with no corrupt
    marker (blank line, or nothing but null sentinels) must quarantine —
    identical dead-letter semantics to read_jsonl's null-struct guard."""
    from recommender_systems_pyspark_spark.sources.ingest import (
        read_tsv_quarantine,
    )

    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    p = tmp_path / "feed.tsv"
    p.write_text("id\tname\n1\talice\n\n\\N\t\\N\n2\tbob\n")
    clean, quar = read_tsv_quarantine(spark, str(p), schema)
    assert sorted(r.id for r in clean.collect()) == [1, 2]
    assert quar.count() == 2  # the blank line and the all-sentinel line
    assert all(r.id is None and r.name is None for r in quar.collect())


# ---------------------------------------------------------------------------
# ADVICE r11 #4: stage_ordered_files integer-exact batch arithmetic
# ---------------------------------------------------------------------------


def test_stage_ordered_files_rejects_negative_keys(spark, tmp_path):
    """Negative order keys would be silently excluded by the batch-0
    ``>= 0`` range predicate — staging must fail LOUDLY instead."""
    from recommender_systems_pyspark_spark.streaming.staging import (
        stage_ordered_files,
    )

    feed = spark.createDataFrame([(-1, 10), (5, 20)], "k long, v long")
    with pytest.raises(ValueError, match="non-negative"):
        stage_ordered_files(feed, "k", 2, str(tmp_path / "src"))


def test_stage_ordered_files_monotone_check_exact_above_2p53(spark, tmp_path):
    """The monotonicity assertion's batch assignment must use the SAME
    integer arithmetic as the staging range predicates. Keys above 2^53
    are not exactly representable as doubles — the old (col/span)
    .cast('long') path could bucket them differently from the integer
    filters. Integer DIV stays exact, so a feed that IS monotone under
    the staged partitioning validates, and every staged row lands in
    exactly one batch file."""
    import glob
    import os

    from recommender_systems_pyspark_spark.streaming.staging import (
        stage_ordered_files,
    )

    base = 1 << 53
    rows = [(base + i, i) for i in range(8)]
    feed = spark.createDataFrame(rows, "k long, ts long")
    src = str(tmp_path / "src")
    stage_ordered_files(feed, "k", 2, src, assert_monotone_col="ts")
    files = sorted(glob.glob(os.path.join(src, "batch*.parquet")))
    assert len(files) == 2
    staged = spark.read.parquet(*files)
    assert staged.count() == 8  # nothing silently dropped
    assert {r.k for r in staged.collect()} == {base + i for i in range(8)}


# ---------------------------------------------------------------------------
# x_mor_compact_e2e: delete-then-compact preserves exactly the live rows
# ---------------------------------------------------------------------------


def test_mor_compact_e2e_invariants(spark, sf_dir):
    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.sources.deletes import _EQ_SOURCES

    rows = all_queries()["x_mor_compact_e2e"].fn(spark, sf_dir).collect()
    assert len(rows) == 20  # every source accounted for
    for r in rows:
        # the liveness ledger partitions the file exactly
        assert r.n_total == r.n_pos_deleted + r.n_eq_deleted + r.n_live
        # the rewrite preserved exactly the live rows, bit-for-bit
        assert r.rows_after == r.n_live
        assert r.checksum_after == r.live_checksum
        assert r.n_files_after <= r.n_files_before
        if r.source in _EQ_SOURCES:  # wholesale-recalled sources
            assert r.n_live == 0 and r.n_files_after == 0
        else:
            assert r.n_live > 0 and r.n_files_after >= 1
    # the compaction actually compacted somewhere (not a 1:1 rewrite)
    assert sum(r.n_files_after for r in rows) < sum(r.n_files_before for r in rows)


# ---------------------------------------------------------------------------
# x_fd_profile_approx: the sketch path certifies itself against exact
# ---------------------------------------------------------------------------


def test_fd_profile_approx_within_bound(spark, sf_dir):
    from recommender_systems_pyspark_spark.registry import all_queries

    rows = all_queries()["x_fd_profile_approx"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r.within_bound for r in rows)
    # the perfect FD reads as perfect through BOTH engines
    nation = next(r for r in rows if r.tbl == "nation")
    assert nation.strength_ppm_exact == 1_000_000
    assert nation.strength_ppm_approx == 1_000_000


# ---------------------------------------------------------------------------
# x_kanon_audit: the privacy ledger is exhaustive and internally consistent
# ---------------------------------------------------------------------------


def test_kanon_audit_partitions_the_table(spark, sf_dir):
    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.sources import load_table

    rows = all_queries()["x_kanon_audit"].fn(spark, sf_dir).collect()
    n_customers = load_table(spark, sf_dir, "customer").count()
    # every row of the table is covered by exactly one equivalence class
    assert sum(r.n_rows for r in rows) == n_customers
    for r in rows:
        assert r.n_rows == r.class_size * r.n_classes
        # l-diversity of a class cannot exceed its size (or the 5-segment domain)
        assert 1 <= r.min_l_diversity <= min(r.class_size, 5)
        assert r.below_k == (r.class_size < 5)


# ---------------------------------------------------------------------------
# x_containment_join: lossless prefix filter, catches what Jaccard misses
# ---------------------------------------------------------------------------


def test_containment_join_lossless_vs_allpairs(spark, sf_dir):
    """The one-sided prefix filter must find EXACTLY the all-pairs ground
    truth — the losslessness theorem, probed on the real fixture."""
    from recommender_systems_pyspark_spark.functions.dedup import (
        _CONT_DEN,
        _CONT_NUM,
        containment_join_pairs,
        containment_shingles,
    )
    from recommender_systems_pyspark_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in containment_join_pairs(docs).collect()
    }
    sh = containment_shingles(docs)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    truth = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in (
            a.crossJoin(b)
            .where(F.col("doc_a") != F.col("doc_b"))
            .select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
                F.size("sh_a").alias("na"),
            )
            .where(_CONT_DEN * F.col("n_common") >= _CONT_NUM * F.col("na"))
            .collect()
        )
    }
    assert got == truth and len(truth) > 0


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully embedded in a long doc: containment 1.0, Jaccard
    far below any dedup threshold — the pair class this operator exists
    for."""
    from recommender_systems_pyspark_spark.functions.dedup import (
        containment_join_pairs,
    )

    quote = " ".join(f"w{i}" for i in range(20))
    container = " ".join(f"w{i}" for i in range(400))  # quote is its prefix
    other = " ".join(f"z{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, quote), (2, container), (3, other)], "doc_id long, text string"
    )
    rows = containment_join_pairs(docs).collect()
    pairs = {(r.doc_a, r.doc_b): r.containment for r in rows}
    assert pairs.get((1, 2)) == 1.0  # the embedded quote is found
    assert (2, 1) not in pairs  # containment is DIRECTED
    assert not any(3 in p for p in pairs)  # unrelated doc stays out


# ---------------------------------------------------------------------------
# x_bpe_encode: the tokenized-corpus artifact is structurally sound
# ---------------------------------------------------------------------------


def test_bpe_encode_token_bounds(spark, sf_dir):
    """Structural invariants of the tokenized stream: every non-empty doc
    emits a row; merges only ever SHRINK a word's symbol count, so
    n_words ≤ n_tokens ≤ Σ(len(word)+1); and the corpus-level
    compression must show the merges actually fired (strictly fewer
    tokens than the unmerged char+EOW start state)."""
    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.sources import load_table

    rows = all_queries()["x_bpe_encode"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(rows) == docs.where("text rlike '[^ ]'").count()
    start_state = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where("w != ''")
        .agg(F.sum(F.length("w") + 1))
        .collect()[0][0]
    )
    for r in rows:
        assert 1 <= r.n_words <= r.n_tokens
    assert sum(r.n_tokens for r in rows) < start_state  # merges fired


# ---------------------------------------------------------------------------
# versioned store: AS OF TIMESTAMP resolution semantics
# ---------------------------------------------------------------------------


def test_version_asof_resolution_and_guards(spark, tmp_path):
    from recommender_systems_pyspark_spark.sources.versioned import (
        read_snapshot_asof,
        vacuum,
        version_asof,
        write_snapshot,
    )

    path = str(tmp_path / "store")
    df1 = spark.createDataFrame([(1,)], "id long")
    df2 = spark.createDataFrame([(1,), (2,)], "id long")
    write_snapshot(df1, path, publish_ts=100)
    write_snapshot(df2, path, publish_ts=200)
    assert version_asof(path, 99) is None
    assert version_asof(path, 100) == 1  # boundary: published AT ts counts
    assert version_asof(path, 150) == 1
    assert version_asof(path, 10_000) == 2
    assert read_snapshot_asof(spark, path, 150).count() == 1
    with pytest.raises(FileNotFoundError):
        read_snapshot_asof(spark, path, 50)
    # publish log must stay time-monotone
    with pytest.raises(ValueError, match="monotone"):
        write_snapshot(df1, path, publish_ts=150)
    # vacuum shrinks the as-of horizon: v1's files go, ts=150 now
    # resolves to nothing (v1 gone, v2 not yet published at 150)
    write_snapshot(df2, path, publish_ts=300)
    vacuum(path, keep_last=2)
    assert version_asof(path, 150) is None
    assert version_asof(path, 250) == 2


# ---------------------------------------------------------------------------
# x_source_overlap_kmv: KMV sketch is the exact k-min, estimate is bounded
# ---------------------------------------------------------------------------


def test_kmv_sketch_matches_python_replay(spark, sf_dir):
    """The distributed two-stage k-min plus pair-merge must equal a direct
    single-threaded KMV replay from the raw text: same md5 universe, same
    k smallest, same both-membership count. Replayed for every pair at
    sf0.001 — any drift in the salt stage, the re-rank, or the membership
    flags shows up as an integer mismatch."""
    import hashlib

    from recommender_systems_pyspark_spark.functions.dedup import (
        _KMV_K,
        _kmv_exact_inter,
        x_source_overlap_kmv,
    )

    rows = {
        (r.source_a, r.source_b): r
        for r in x_source_overlap_kmv(spark, sf_dir).collect()
    }

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    universe: dict[str, set[str]] = {}
    for r in docs:
        toks = r.text.split(" ")
        shs = (
            {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
            if len(toks) >= 3
            else {r.text}
        )
        universe.setdefault(r.source, set()).update(
            hashlib.md5(s.encode()).hexdigest() for s in shs
        )

    for (sa, sb), got in rows.items():
        a, b = universe[sa], universe[sb]
        sk_a = set(sorted(a)[:_KMV_K])
        sk_b = set(sorted(b)[:_KMV_K])
        merged = sorted(sk_a | sk_b)[:_KMV_K]
        k_used = len(merged)
        kmv_both = sum(1 for h in merged if h in sk_a and h in sk_b)
        assert (got.k_used, got.kmv_both) == (k_used, kmv_both), (sa, sb)
        assert got.exact_inter == len(a & b)
        assert got.exact_union == len(a | b)

    # Duplicated (source, h) rows must leave the exact tier unchanged: the
    # membership mask is a bitwise OR, so a repeated row cannot carry into
    # the next source's bit (a SUM of shifted bits would).
    dup = spark.createDataFrame(
        [(s, h) for s, hs in universe.items() for h in hs] * 2,
        "source string, h string",
    )
    sizes = dup.groupBy("source").agg(F.count("*").alias("n"))
    inter = {
        (r.source_a, r.source_b): r.exact_inter
        for r in _kmv_exact_inter(dup, sizes).collect()
    }
    assert set(inter) <= set(rows)
    for sa, sb in rows:
        assert inter.get((sa, sb), 0) == len(universe[sa] & universe[sb]), (sa, sb)


def test_kmv_estimate_within_5sigma(spark):
    """At sf0.01 (full 190-pair grid, |sets| ≈ 1.3k, J ≈ 0.02–0.08) every
    pair's sketch estimate must sit within 5 hypergeometric standard
    deviations of the exact Jaccard — the bound the sketch's k was sized
    for. Deterministic data, so this is a fixed property, not a flake."""
    from recommender_systems_pyspark_spark.functions.dedup import (
        _KMV_K,
        x_source_overlap_kmv,
    )

    rows = x_source_overlap_kmv(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 190  # C(20, 2) source pairs
    for r in rows:
        assert 0 < r.k_used <= _KMV_K
        assert 0 <= r.kmv_both <= r.k_used
        sigma = (max(r.jacc_exact * (1 - r.jacc_exact), 1e-6) / r.k_used) ** 0.5
        assert abs(r.jacc_kmv - r.jacc_exact) <= 5 * sigma, (
            r.source_a,
            r.source_b,
            r.jacc_kmv,
            r.jacc_exact,
        )


# ---------------------------------------------------------------------------
# x_dp_noisy_counts: seeded discrete-Laplace release replays exactly
# ---------------------------------------------------------------------------


def test_dp_noise_matches_python_replay(spark, sf_dir):
    """Every cell's noise must equal a direct python replay of the
    mechanism (md5 → 60-bit u → first CDF threshold above u), and the
    released count must be the non-negative post-processing of
    true_n + noise. Catches drift in the hex slice, the threshold table,
    or the when-chain ordering."""
    import hashlib

    from recommender_systems_pyspark_spark.operators.expectations import (
        _DP_BOUND,
        _DP_SCALE,
        _DP_TABLE,
        x_dp_noisy_counts,
    )

    assert _DP_TABLE[-1][1] == _DP_SCALE
    assert all(b[1] >= a[1] for a, b in zip(_DP_TABLE, _DP_TABLE[1:]))

    for r in x_dp_noisy_counts(spark, sf_dir).collect():
        u = int(
            hashlib.md5(f"dp:{r.source}:{r.lang}".encode()).hexdigest()[:15], 16
        )
        expected = next(z for z, hi in _DP_TABLE if u < hi)
        assert r.noise == expected, (r.source, r.lang)
        assert abs(r.noise) <= _DP_BOUND
        assert r.released_n == max(r.true_n + r.noise, 0)


def test_dp_noise_is_centered_and_spread(spark):
    """At sf0.01 (97 cells) the realized noise must look like discrete
    Laplace at ε=1: mean within 1, and at least a quarter of cells
    perturbed (P(Z=0) ≈ 0.46). Deterministic seed → fixed property."""
    from recommender_systems_pyspark_spark.operators.expectations import (
        x_dp_noisy_counts,
    )

    rows = x_dp_noisy_counts(spark, "/root/testdata/sf0.01").collect()
    noises = [r.noise for r in rows]
    assert abs(sum(noises) / len(noises)) <= 1.0
    assert sum(1 for n in noises if n != 0) >= len(noises) // 4


# ---------------------------------------------------------------------------
# strongly_connected_components: the synthetic-graph correctness battery
# (the fixture face x_graph_scc certifies one mixed histogram; these pin
# the algorithm on shapes the fixture never produces)
# ---------------------------------------------------------------------------


def _scc_sets(spark, edges):
    from recommender_systems_pyspark_spark.functions.graph import (
        strongly_connected_components,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    rows = strongly_connected_components(df).collect()
    out = {}
    for r in rows:
        out.setdefault(r.scc_id, set()).add(r.v)
    return set(frozenset(s) for s in out.values()), {
        r.v: r.scc_id for r in rows
    }


def _tarjan_sets(edges):
    nodes = set()
    adj = {}
    for s, d in edges:
        nodes.add(s)
        nodes.add(d)
        adj.setdefault(s, []).append(d)
    index, low, onst, st, ctr, sccs = {}, {}, set(), [], [0], []
    for v0 in nodes:
        if v0 in index:
            continue
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = ctr[0]
                ctr[0] += 1
                st.append(v)
                onst.add(v)
            rec = False
            succ = adj.get(v, [])
            for i in range(pi, len(succ)):
                w = succ[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    rec = True
                    break
                elif w in onst:
                    low[v] = min(low[v], index[w])
            if rec:
                continue
            if low[v] == index[v]:
                comp = set()
                while True:
                    w = st.pop()
                    onst.discard(w)
                    comp.add(w)
                    if w == v:
                        break
                sccs.append(frozenset(comp))
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    return set(sccs)


def test_scc_dag_is_all_singletons(spark):
    edges = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)]
    got, ids = _scc_sets(spark, edges)
    assert got == {frozenset([v]) for v in (1, 2, 3, 4, 5)}
    assert all(ids[v] == v for v in ids)  # scc_id = min member = self


def test_scc_figure_eight_merges_through_shared_node(spark):
    # cycles 1→2→3→1 and 3→4→5→3 share node 3: one SCC of 5
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3)]
    got, ids = _scc_sets(spark, edges)
    assert got == {frozenset([1, 2, 3, 4, 5])}
    assert set(ids.values()) == {1}


def test_scc_chain_of_cycles_needs_multiple_rounds(spark):
    # cycle {1,2} → cycle {3,4} → cycle {5,6}: downstream cycles are
    # colored by the upstream min (1), so the pivot-1 round only peels
    # {1,2} — exercises the outer re-color loop, not just round one.
    edges = [(1, 2), (2, 1), (3, 4), (4, 3), (5, 6), (6, 5), (1, 3), (3, 5)]
    got, ids = _scc_sets(spark, edges)
    assert got == {frozenset([1, 2]), frozenset([3, 4]), frozenset([5, 6])}
    assert ids[3] == 3 and ids[5] == 5  # scc_id is the component min


def test_scc_matches_tarjan_on_seeded_random_digraph(spark):
    """60-node random digraph at the mixed-structure density: every SCC
    (sets AND min-id labels) must equal an independent Tarjan run."""
    import random

    rng = random.Random(42)
    edges = list(
        {
            (rng.randrange(60), rng.randrange(60))
            for _ in range(90)
        }
    )
    edges = [(s, d) for s, d in edges if s != d]
    got, ids = _scc_sets(spark, edges)
    assert got == _tarjan_sets(edges)
    for comp in got:
        assert all(ids[v] == min(comp) for v in comp)


def test_scc_raises_on_round_cap(spark):
    # chain of 3 two-cycles with max_rounds=1 must fail LOUDLY, not
    # return a partial assignment
    import pytest as _pytest

    from recommender_systems_pyspark_spark.functions.graph import (
        strongly_connected_components,
    )

    edges = [(1, 2), (2, 1), (3, 4), (4, 3), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        strongly_connected_components(df, max_rounds=1)


def test_scc_empty_edge_frame(spark):
    from recommender_systems_pyspark_spark.functions.graph import (
        strongly_connected_components,
    )

    df = spark.createDataFrame([], "src long, dst long")
    out = strongly_connected_components(df)
    assert out.columns == ["v", "scc_id"]
    assert out.count() == 0


# ---------------------------------------------------------------------------
# x_mixture_temperature: exact apportionment, python replay, flattening
# ---------------------------------------------------------------------------


def test_mixture_temperature_apportionment(spark):
    """Quotas must sum EXACTLY to the target, match a python replay of
    the largest-remainder method on round(sqrt(n)·1e9) weights, and
    actually flatten: every below-average source's tempered share ≥ its
    natural share, every above-average source's ≤ (strict somewhere)."""
    import math

    from recommender_systems_pyspark_spark.functions.strata import (
        _MIX_TOTAL_QUOTA,
        x_mixture_temperature,
    )

    rows = {r.source: r for r in x_mixture_temperature(
        spark, "/root/testdata/sf0.01").collect()}
    assert sum(r.quota for r in rows.values()) == _MIX_TOTAL_QUOTA

    n = {s: r.n_docs for s, r in rows.items()}
    w = {s: round(math.sqrt(v) * 1_000_000_000) for s, v in n.items()}
    big_w = sum(w.values())
    floor = {s: _MIX_TOTAL_QUOTA * w[s] // big_w for s in w}
    rem = {s: _MIX_TOTAL_QUOTA * w[s] % big_w for s in w}
    leftover = _MIX_TOTAL_QUOTA - sum(floor.values())
    order = sorted(w, key=lambda s: (-rem[s], s))
    expected = {
        s: floor[s] + (1 if i < leftover else 0) for i, s in enumerate(order)
    }
    for s, r in rows.items():
        assert r.quota == expected[s], s
        assert r.weight_scaled == w[s]

    # Flattening direction: below-average sources never lose share,
    # above-average never gain. The sf0.01 fixture is a UNIFORM mixture
    # (every source exactly 25 docs), so equality everywhere is the
    # correct outcome there — the skewed-direction face is covered by the
    # python-replay equality above on any future skewed fixture.
    mean_n = sum(n.values()) / len(n)
    for s, r in rows.items():
        if n[s] < mean_n:
            assert r.tempered_ppm >= r.natural_ppm, s
        elif n[s] > mean_n:
            assert r.tempered_ppm <= r.natural_ppm, s
    if len(set(n.values())) == 1:
        assert all(
            r.tempered_ppm == r.natural_ppm == 1_000_000 // len(rows)
            for r in rows.values()
        )


# ---------------------------------------------------------------------------
# delta_join_frames: the IVM identity on seeded random splits
# ---------------------------------------------------------------------------


def test_delta_join_identity_random_splits(spark):
    """(A∪ΔA)⋈(B∪ΔB) row multiset == A⋈B ∪ the three delta legs, for
    three different seeded random split ratios — missed or duplicated
    legs change the multiset."""
    import random

    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.functions.warehouse import (
        delta_join_frames,
    )

    rng = random.Random(7)
    a_rows = [(rng.randrange(20), i) for i in range(300)]
    b_rows = [(k, rng.randrange(1000)) for k in range(20) for _ in range(3)]
    a = spark.createDataFrame(a_rows, "k long, av long")
    b = spark.createDataFrame(b_rows, "k long, bv long")

    full = (
        a.join(b, "k").groupBy("k").agg(F.count("*").alias("n"),
                                        F.sum(F.col("av") + F.col("bv")).alias("s"))
    ).collect()
    full = {r.k: (r.n, r.s) for r in full}

    for frac_a, frac_b in ((0.1, 0.0), (0.0, 0.3), (0.2, 0.5)):
        da = a.where(F.pmod(F.col("av"), 100) < int(frac_a * 100))
        ba = a.subtract(da)
        db = b.where(F.pmod(F.col("bv"), 100) < int(frac_b * 100))
        bb = b.subtract(db)
        legs = delta_join_frames(ba, da, bb, db, ["k"])
        merged = (
            ba.join(bb, "k")
            .unionByName(legs)
            .groupBy("k")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("av") + F.col("bv")).alias("s"))
        ).collect()
        assert {r.k: (r.n, r.s) for r in merged} == full, (frac_a, frac_b)


# ---------------------------------------------------------------------------
# x_phrase_search: positional adjacency replayed in python
# ---------------------------------------------------------------------------


def test_phrase_search_matches_python_replay(spark, sf_dir):
    """Full python replay at sf0.001: top-3 bigram selection (count desc,
    lexicographic ties) and per-phrase doc counts / occurrence totals /
    top-doc must match exactly — overlapping repeats ("a a a" has two
    "a a" occurrences) and the adjacency-only semantics ride on the
    positional join being off-by-one-correct."""
    import hashlib
    from collections import Counter, defaultdict
    from functools import reduce

    from recommender_systems_pyspark_spark.functions.search import (
        x_phrase_search,
    )

    got = {r.phrase: r for r in x_phrase_search(spark, sf_dir).collect()}

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    counts = Counter()
    per_doc = defaultdict(Counter)
    for r in docs:
        toks = r.text.split(" ")
        for a, b in zip(toks, toks[1:]):
            counts[(a, b)] += 1
            per_doc[(a, b)][r.doc_id] += 1
    top3 = sorted(counts, key=lambda k: (-counts[k], k))[:3]

    assert set(got) == {f"{a} {b}" for a, b in top3}
    for key in top3:
        r = got[f"{key[0]} {key[1]}"]
        docs_occ = per_doc[key]
        assert r.n_docs == len(docs_occ)
        assert r.n_occurrences == counts[key] == sum(docs_occ.values())
        assert r.top_doc_id == min(
            docs_occ, key=lambda d: (-docs_occ[d], d)
        )
        assert r.top_doc_occ == docs_occ[r.top_doc_id]
        xor = reduce(
            lambda acc, d: acc
            ^ int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16),
            docs_occ,
            0,
        )
        assert r.docs_xor == xor


# ---------------------------------------------------------------------------
# x_ktruss_peel: synthetic truss structure + fixture fixpoint
# ---------------------------------------------------------------------------


def test_ktruss_support_on_synthetic_graph(spark):
    """K5 ∪ (triangle with a tail): at k=5 (support ≥ 3), one peel round
    keeps exactly the K5's 10 edges (support 3 each) and drops the
    triangle (support 1) and the tail (support 0); a second round
    changes nothing (K5 is the 5-truss fixpoint)."""
    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.functions.pagerank import (
        _KTRUSS_K,
        _edge_support,
    )

    k5 = [(u, v) for u in range(1, 6) for v in range(u + 1, 6)]
    triangle_tail = [(10, 11), (10, 12), (11, 12), (12, 13)]
    cur = spark.createDataFrame(k5 + triangle_tail, "u long, v long")

    sup = {(r.u, r.v): r.support for r in _edge_support(cur).collect()}
    assert all(sup[(u, v)] == 3 for u, v in k5)
    assert sup[(10, 11)] == sup[(10, 12)] == sup[(11, 12)] == 1
    assert (12, 13) not in sup  # tail edge closes no triangle

    survivors = (
        _edge_support(cur)
        .where(F.col("support") >= _KTRUSS_K - 2)
        .select("u", "v")
    )
    assert sorted((r.u, r.v) for r in survivors.collect()) == sorted(k5)
    again = (
        _edge_support(survivors)
        .where(F.col("support") >= _KTRUSS_K - 2)
        .select("u", "v")
    )
    assert sorted((r.u, r.v) for r in again.collect()) == sorted(k5)


def test_ktruss_fixture_rounds_strictly_shrink_and_replay(spark):
    """At sf0.01 on the mod-2 subgraph every peel round STRICTLY shrinks
    the edge set (the certification is never vacuous), and an
    independent unpacked replay of the three peels lands on exactly the
    round-3 edge count."""
    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.functions.pagerank import (
        _KTRUSS_K,
        _KTRUSS_MOD,
        _edge_support,
        cached_copurchase_edges,
        x_ktruss_peel,
    )

    rows = {
        r.round: r
        for r in x_ktruss_peel(spark, "/root/testdata/sf0.01").collect()
    }
    assert sorted(rows) == [0, 1, 2, 3]
    assert (
        rows[0].n_edges > rows[1].n_edges > rows[2].n_edges > rows[3].n_edges
    )

    cur = (
        cached_copurchase_edges(spark, "/root/testdata/sf0.01")
        .where(
            (F.col("src") < F.col("dst"))
            & (F.col("src") % _KTRUSS_MOD == 0)
            & (F.col("dst") % _KTRUSS_MOD == 0)
        )
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    assert cur.count() == rows[0].n_edges
    for _ in range(3):  # independent replay, pack_ok=False path
        cur = (
            _edge_support(cur)
            .where(F.col("support") >= _KTRUSS_K - 2)
            .select("u", "v")
            .localCheckpoint()
        )
    assert cur.count() == rows[3].n_edges


# ---------------------------------------------------------------------------
# x_scc_condensation: layering on synthetics + fixture partition identity
# ---------------------------------------------------------------------------


def test_condensation_levels_chain_of_cycles(spark):
    """Chain of three 2-cycles {1,2}→{3,4}→{5,6}: condensation is a
    3-node path — one SCC per level, levels 0/1/2, member totals 2 each,
    sccs_xor = the SCC min ids (1, 3, 5)."""
    from recommender_systems_pyspark_spark.functions.graph import (
        condensation_levels,
    )

    edges = [(1, 2), (2, 1), (3, 4), (4, 3), (5, 6), (6, 5), (1, 3), (3, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r.level: r for r in condensation_levels(df).collect()}
    assert sorted(rows) == [0, 1, 2]
    assert all(rows[lv].n_sccs == 1 and rows[lv].n_members == 2 for lv in rows)
    assert (rows[0].sccs_xor, rows[1].sccs_xor, rows[2].sccs_xor) == (1, 3, 5)


def test_condensation_levels_diamond_longest_path(spark):
    """Diamond 1→2→4, 1→3, 3→5→4 (all singleton SCCs): the layering is
    LONGEST-path — node 4 sits at level 3 (via 3→5→4), not level 2."""
    from recommender_systems_pyspark_spark.functions.graph import (
        condensation_levels,
    )

    edges = [(1, 2), (2, 4), (1, 3), (3, 5), (5, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.level: (r.n_sccs, r.sccs_xor)
        for r in condensation_levels(df).collect()
    }
    assert got == {0: (1, 1), 1: (2, 2 ^ 3), 2: (1, 5), 3: (1, 4)}


def test_condensation_fixture_partitions_the_scc_set(spark):
    """At sf0.01 the level histogram partitions exactly the SCC set
    x_graph_scc certifies: Σ n_sccs = total components, Σ n_members =
    total nodes, levels contiguous from 0."""
    from recommender_systems_pyspark_spark.functions.graph import (
        x_graph_scc,
        x_scc_condensation,
    )

    scc_rows = x_graph_scc(spark, "/root/testdata/sf0.01").collect()
    total_sccs = sum(r.n_components for r in scc_rows)
    total_nodes = sum(r.scc_size * r.n_components for r in scc_rows)

    lv = sorted(
        x_scc_condensation(spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r.level,
    )
    assert [r.level for r in lv] == list(range(len(lv)))
    assert sum(r.n_sccs for r in lv) == total_sccs
    assert sum(r.n_members for r in lv) == total_nodes
    assert all(r.n_sccs >= 1 for r in lv)
