"""Distributed PageRank over the part co-purchase graph (round 4).

Complements :mod:`.graph` (connected components — the dedup clusterer)
with the other canonical iterative graph algorithm: join-based rank
propagation. The reference has no graph surface; this is north-star
extension work (SURVEY.md §2.13) — the importance ranking a training-data
pipeline uses to weight interlinked documents/pages.

Determinism contract (what makes a 5-iteration float fixpoint hash-gate
able): ALL rank arithmetic is 64-bit INTEGER, scaled by 1e12 —
``rank' = (15·(S div N) + 85·Σ_in (rank div outdeg)) div 100`` with
truncating integral division (`div` in Spark, `//` in DuckDB — identical
on non-negative longs). No float enters until the final display column,
one exact IEEE division. The oracle unrolls all five iterations as
MATERIALIZED CTEs (same scheme the k-means/PQ/BPE oracles use).

Scale notes (100 TB):
- Edge generation is the wedge join bounded by Σ deg(order)² — orders
  hold ~4-7 lines, so fan-out is constant-bounded (same bound as
  x_triangle_count). Since r8 the edge list is MATERIALIZED ONCE per
  corpus version in the versioned snapshot store
  (:func:`cached_copurchase_edges`) and every graph algorithm
  (pagerank/BFS/LPA/k-core) reads the snapshot — the build is a corpus
  artifact, not a per-query cost.
- Each iteration is one join (edges ⋈ ranks, both partitioned by the
  src key — the shuffle is reused across iterations since edges are
  checkpoint-pinned) + one groupBy(dst) with map-side partial sums.
- Driver state: a single scalar (node count). Lineage is cut with
  localCheckpoint per iteration, exactly like graph.connected_components
  — without it the plan doubles per round.
- Dangling nodes cannot exist: the co-purchase relation is symmetric,
  so every node in the graph has outdegree ≥ 1 by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import tables

_SCALE = 1_000_000_000_000  # rank mass fixed-point scale (1e12)
_ITERS = 5
_DAMP_NUM, _DAMP_DEN = 85, 100  # d = 0.85 as an integer ratio


def pagerank_scaled(edges: DataFrame, iters: int = _ITERS) -> DataFrame:
    """Integer-scaled PageRank over a directed edge list (``src``/``dst``
    long columns; symmetric input → no dangling mass). Returns
    (node, outdeg, rank) with rank in 1e-12 units of probability mass.

    ``edges`` is re-used every iteration — callers get correct results
    regardless, but pinning it (localCheckpoint) keeps each iteration's
    plan flat; this function does so itself. (Pre-partitioning the pinned
    edges by ``src`` was measured at the sf1.0 rehearsal and is wall-clock
    NEUTRAL here — 13.9s vs 14.2s steady-state at 10× data — because each
    iteration's dominant cost is the ranks-side shuffle + checkpoint
    materialization, not the edge re-shuffle; kept simple.)"""
    edges = edges.localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    deg = deg.localCheckpoint(eager=False)
    n = deg.count()  # ONE driver scalar — the only collect in the loop
    if n == 0:  # empty graph: no nodes, no ranks (not a division by zero)
        return deg.select(
            F.col("src").alias("node"),
            F.lit(0).cast("long").alias("rank"),
            "outdeg",
        )
    init = _SCALE // n
    teleport = _DAMP_DEN - _DAMP_NUM  # 15 = (1-d)·100
    # ranks CARRIES outdeg so each iteration's contribution join touches
    # ONE build side (edges ⋈ ranks) instead of two (edges ⋈ ranks ⋈ deg).
    # Measured at sf0.1 this is wall-clock NEUTRAL (steady-state ~5.5 s
    # before and after — the wedge-join edge GENERATION dominates, and
    # the eliminated deg join was a broadcast) but it removes a join from
    # every iteration's plan; the arithmetic is unchanged, so the
    # unrolled-CTE oracle still hash-matches.
    ranks = deg.select(
        F.col("src").alias("node"), "outdeg", F.lit(init).cast("long").alias("rank")
    )
    for _ in range(iters):
        contrib = edges.join(ranks.withColumnRenamed("node", "src"), "src").select(
            "dst", F.expr("rank div outdeg").alias("c")
        )
        incoming = contrib.groupBy("dst").agg(F.sum("c").alias("incoming"))
        ranks = (
            deg.select(F.col("src").alias("node"), "outdeg")
            .join(incoming.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                "outdeg",
                F.expr(
                    f"({teleport} * {init}L + {_DAMP_NUM} * coalesce(incoming, 0L))"
                    f" div {_DAMP_DEN}"
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", "rank", "outdeg")


def _oracle() -> str:
    """Unrolled-iteration DuckDB twin: r0 … r{_ITERS} as MATERIALIZED
    CTEs (DuckDB's default CTE inlining re-evaluates the chain
    exponentially — see the k-means oracle note in CHANGES_r04.md)."""
    teleport = _DAMP_DEN - _DAMP_NUM
    parts = [
        """
        WITH li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS MATERIALIZED (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
          GROUP BY 1, 2
        ),
        deg AS MATERIALIZED (
          SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
        ),
        params AS MATERIALIZED (
          SELECT %(scale)d // COUNT(*) AS init FROM deg
        ),
        r0 AS MATERIALIZED (
          SELECT src AS node, (SELECT init FROM params) AS rank FROM deg
        )""" % {"scale": _SCALE}
    ]
    for i in range(_ITERS):
        parts.append(
            f""",
        r{i + 1} AS MATERIALIZED (
          SELECT d.src AS node,
                 CAST(({teleport} * (SELECT init FROM params)
                  + {_DAMP_NUM} * COALESCE(s.incoming, 0)) // {_DAMP_DEN}
                      AS BIGINT) AS rank
          FROM deg d LEFT JOIN (
            -- DuckDB SUM(BIGINT) widens to HUGEINT; pin BIGINT so the
            -- final schema matches Spark's long (values are ≤ ~1e12)
            SELECT e.dst AS node, CAST(SUM(r.rank // dg.outdeg) AS BIGINT) AS incoming
            FROM edges e
            JOIN r{i} r ON e.src = r.node
            JOIN deg dg ON dg.src = e.src
            GROUP BY e.dst
          ) s ON s.node = d.src
        )"""
        )
    parts.append(
        f"""
        SELECT r.node AS part_key, d.outdeg AS degree,
               r.rank AS rank_scaled,
               CAST(r.rank AS DOUBLE) / {_SCALE} AS rank_score
        FROM r{_ITERS} r JOIN deg d ON d.src = r.node
        ORDER BY r.rank DESC, r.node
        LIMIT 25
        """
    )
    return "".join(parts)


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric part co-purchase edge list (``src``/``dst`` longs):
    parts are linked when they co-occur in an order. Wedge join bounded
    by Σ deg(order)² (orders hold ~4-7 lines). Shared by x_pagerank and
    x_bfs_hops so both walk the identical graph."""
    li = (
        tables(spark, sf_dir)["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )


def cached_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-or-build the co-purchase edge list from the versioned
    snapshot store — the materialized graph a production pipeline builds
    ONCE per corpus version and every algorithm reads (the wedge join is
    the single most expensive stage shared by pagerank/BFS/LPA; at 100 TB
    you never recompute it per query). The edge relation is a DISTINCT
    set of long pairs, so the parquet round-trip is exact and every
    consumer sees the identical graph the oracles replay."""
    from ..sources.versioned import load_or_build

    return load_or_build(
        spark, "graph_edges", sf_dir, "copurchase", lambda: copurchase_edges(spark, sf_dir)
    )


@query("x_pagerank", oracle=_oracle())
def x_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 parts by PageRank over the co-purchase graph (parts are
    linked when they co-occur in an order; the relation is symmetric so
    the walk is over an undirected graph). Five damped (d=0.85)
    iterations in exact fixed-point arithmetic — hash-identical to the
    oracle's unrolled recurrence, ties broken by part key."""
    edges = cached_copurchase_edges(spark, sf_dir)
    ranked = pagerank_scaled(edges, _ITERS)
    return (
        ranked.select(
            F.col("node").alias("part_key"),
            F.col("outdeg").alias("degree"),
            F.col("rank").alias("rank_scaled"),
            (F.col("rank").cast("double") / _SCALE).alias("rank_score"),
        )
        .orderBy(F.col("rank_scaled").desc(), "part_key")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Multi-source BFS: shortest hop distance from a seed set
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4
_SEED_MOD = 97  # seeds: parts with part_key % 97 == 0 (~1% of the graph)


def _bfs_oracle() -> str:
    """Unrolled frontier recurrence as MATERIALIZED CTEs (same scheme as
    the PageRank/k-means/BPE oracles)."""
    parts = [
        f"""
        WITH li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS MATERIALIZED (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
          GROUP BY 1, 2
        ),
        deg AS MATERIALIZED (
          SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
        ),
        f0 AS MATERIALIZED (
          SELECT src AS node, 0 AS hops FROM deg WHERE src % {_SEED_MOD} = 0
        )"""
    ]
    for i in range(_BFS_ROUNDS):
        parts.append(
            f""",
        f{i + 1} AS MATERIALIZED (
          SELECT node, MIN(hops) AS hops FROM (
            SELECT node, hops FROM f{i}
            UNION ALL
            SELECT e.dst AS node, f.hops + 1 AS hops
            FROM edges e JOIN f{i} f ON e.src = f.node
          ) GROUP BY node
        )"""
        )
    parts.append(
        f"""
        SELECT f.node AS part_key, CAST(f.hops AS INTEGER) AS hops,
               d.outdeg AS degree
        FROM f{_BFS_ROUNDS} f JOIN deg d ON d.src = f.node
        ORDER BY hops, part_key
        """
    )
    return "".join(parts)


def bfs_settled(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    trace: list[int] | None = None,
) -> DataFrame:
    """Delta-frontier multi-source BFS core: returns the settled relation
    (node, hops) after ``rounds`` expansions of ``seeds`` over ``edges``
    (src, dst).

    Each round joins edges against the DELTA (nodes first reached last
    round) only, MIN-reduces same-round multi-paths, anti-joins out
    already-settled nodes (monotone hops ⇒ settled never improves), and
    unions the remainder into settled. Equivalent to the accumulate-and-
    MIN recurrence the oracle unrolls, with per-round join input |delta|
    instead of |reached| — the difference between O(edges incident to
    the ring) and O(rounds × reached) total work at depth.

    ``trace``, when a list, receives the per-round newly-settled count —
    one scalar job per round, used by tests to PROVE the delta shape
    (never passed in the query path, so no extra jobs there)."""
    settled = seeds.localCheckpoint(eager=False)
    delta = settled
    for _ in range(rounds):
        expanded = (
            edges.join(delta, edges["src"] == delta["node"])
            .select(F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
        delta = expanded.join(settled, "node", "left_anti").localCheckpoint(
            eager=False
        )
        settled = settled.unionByName(delta).localCheckpoint(eager=False)
        if trace is not None:
            trace.append(delta.count())
    return settled


@query("x_bfs_hops", oracle=_bfs_oracle())
def x_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the co-purchase graph: exact shortest hop
    distance (≤ 4 rounds) from the seed set ``part_key % 97 == 0`` to
    every reached node — the frontier-expansion primitive behind
    link-distance features, crawl-depth labeling, and seed-proximity
    corpus weighting. Completes the graph family: importance
    (x_pagerank), clustering (x_dedup_clusters CC), local structure
    (x_triangle_count), and now distance.

    Determinism: hop counts are small integers; each round is
    frontier ⋈ edges (+1) unioned with the carried frontier and reduced
    by MIN per node — associative/commutative, so partial-aggregation
    order cannot matter. The oracle unrolls the identical recurrence.

    Scale shape (delta frontier, VERDICT r6 #3): per round the edge join
    sees ONLY the nodes settled LAST round — not the whole reached set —
    so round k expands the ring at distance k−1 exactly once instead of
    re-expanding everything settled in rounds 1..k−1 (the r6 shape's up
    to 4× redundant join work, O(rounds × reached) at depth). Newly
    reached nodes are an anti-join of the expansion against the settled
    relation (sound because BFS hop counts are monotone: a node already
    settled can never improve), then union into settled. Lineage is cut
    per round (localCheckpoint, same discipline as pagerank/CC). Driver
    state: nothing — the loop is a fixed 4-round unroll, no convergence
    collect."""
    edges = cached_copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    seeds = deg.where(F.col("src") % _SEED_MOD == 0).select(
        F.col("src").alias("node"), F.lit(0).alias("hops")
    )
    settled = bfs_settled(edges, seeds, _BFS_ROUNDS)
    return (
        settled.join(deg, settled["node"] == deg["src"])
        .select(
            F.col("node").alias("part_key"),
            F.col("hops").cast("int").alias("hops"),
            F.col("outdeg").alias("degree"),
        )
        .orderBy("hops", "part_key")
    )


# ---------------------------------------------------------------------------
# Label propagation communities (round 8)
# ---------------------------------------------------------------------------

_LP_ITERS = 3


def _lp_cte_chain() -> list[str]:
    """The shared WITH-chain: co-purchase edges, degrees, and the
    ``_LP_ITERS`` unrolled synchronous-LPA rounds (l0..l{N}) — reused by
    the x_label_propagation and x_graph_modularity oracles so the
    community assignment both certify is literally the same SQL."""
    parts = [
        """
        WITH li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS MATERIALIZED (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
          GROUP BY 1, 2
        ),
        deg AS MATERIALIZED (
          SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
        ),
        l0 AS MATERIALIZED (
          SELECT src AS node, src AS label FROM deg
        )"""
    ]
    for i in range(_LP_ITERS):
        parts.append(
            f""",
        l{i + 1} AS MATERIALIZED (
          SELECT node, label FROM (
            SELECT e.dst AS node, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.dst
                                      ORDER BY COUNT(*) DESC, l.label) AS rn
            FROM edges e JOIN l{i} l ON l.node = e.src
            GROUP BY e.dst, l.label
          ) WHERE rn = 1
        )"""
        )
    return parts


def _lp_oracle() -> str:
    parts = _lp_cte_chain()
    parts.append(
        f"""
        SELECT l.label AS community, COUNT(*) AS n_members,
               CAST(SUM(d.outdeg) AS BIGINT) AS total_degree,
               MIN(l.node) AS first_member
        FROM l{_LP_ITERS} l JOIN deg d ON d.src = l.node
        GROUP BY l.label
        ORDER BY n_members DESC, community
        """
    )
    return "".join(parts)


@query("x_label_propagation", oracle=_lp_oracle())
def x_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the part
    co-purchase graph — the cheap clustering a curation pipeline uses to
    group interlinked pages/documents when connected components is too
    coarse (CC merges everything touching; LPA keeps densely-linked cores
    together). Completes the graph family alongside importance
    (x_pagerank), reachability (x_bfs_hops), CC (x_dedup_clusters) and
    local structure (x_triangle_count).

    Determinism contract: classic async LPA is run-order dependent, so
    this is the SYNCHRONOUS variant — every node simultaneously adopts
    the most frequent label among its neighbors, ties broken by smallest
    label — which makes iteration k a pure function of iteration k-1.
    Mode selection is a count + ROW_NUMBER total order (count DESC,
    label ASC), bit-replayable in the oracle's unrolled CTE chain.

    Scale shape: per iteration ONE edges ⋈ labels equi-join on the src
    key (the same partitioning every iteration — co-partitioned with the
    checkpoint-pinned edges) + one (dst, label) count with map-side
    partials + one dst-keyed window for the argmax. Linear in |edges| per
    round, fixed {iters} rounds, no driver-side state, lineage cut per
    round exactly like pagerank/CC. Every node has degree >= 1 (the
    co-purchase relation is symmetric) so no node is orphaned by the
    neighbor-mode update."""
    edges = cached_copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    labels = cached_lpa_labels(spark, sf_dir)
    return (
        labels.join(deg, labels["node"] == deg["src"])
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum("outdeg").alias("total_degree"),
            F.min("node").alias("first_member"),
        )
        .orderBy(F.col("n_members").desc(), "community")
    )


x_label_propagation.__doc__ = x_label_propagation.__doc__.format(iters=_LP_ITERS)


#: Per-(session, sf_dir) memo of the 3-round LPA community assignment
#: (the cached_scc_assignment pattern — guide §5, multi-consumer
#: artifact): x_label_propagation and x_graph_modularity both run the
#: identical lpa_labels(cached_copurchase_edges, _LP_ITERS) chain — each
#: paid the full 3-round join/agg loop per query (~3 s of both rows'
#: ~3–5 s isolated warm). First consumer in a session pays it
#: reproducibly in its cold row; in-session only, never disk.
_LPA_MEMO: dict[tuple, DataFrame] = {}


def cached_lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, label) for the co-purchase graph after ``_LP_ITERS``
    synchronous LPA rounds, computed once per (session, sf_dir) and
    eagerly localCheckpoint-ed (multi-consumer rule; a lazy checkpoint
    reused across invocations hits the AQE stale-accumulator failure)."""
    import os

    from ..memo import session_memo

    return session_memo(
        _LPA_MEMO,
        spark,
        (os.path.normpath(sf_dir), _LP_ITERS),
        lambda: lpa_labels(
            cached_copurchase_edges(spark, sf_dir), _LP_ITERS
        ).localCheckpoint(),
    )


def lpa_labels(edges: DataFrame, iters: int) -> DataFrame:
    """Synchronous label propagation over a SYMMETRIC (src, dst) edge
    list: ``iters`` rounds of every node adopting the most frequent
    neighbor label, ties to the smallest label. Returns (node, label).
    The reusable core behind :func:`x_label_propagation`; the hypothesis
    property test drives it with random graphs to probe tie-breaking and
    oscillation cases beyond the fixture."""
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iters):
        # mode per dst = argmax over (count, -label): a max_by hash
        # aggregate — same total order as the oracle's ROW_NUMBER
        # (count DESC, label ASC) but with NO per-round sort (the old
        # row_number window sorted the whole (dst, label) frame every
        # iteration; r10 bench: this swap is a pure agg-for-sort trade
        # on the same shuffle keys)
        labels = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy("dst", "label")
            .agg(F.count("*").alias("n"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.max_by("label", F.struct(F.col("n"), (-F.col("label")).alias("t"))).alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


# ---------------------------------------------------------------------------
# Modularity of the LPA communities (round 10)
# ---------------------------------------------------------------------------

_MOD_TOP = 20  # per-community rows reported (plus the -1 TOTAL row)


def _modularity_oracle() -> str:
    parts = _lp_cte_chain()
    parts.append(
        f""",
        etot AS (SELECT COUNT(*) AS e FROM edges),
        mem AS (SELECT node, label FROM l{_LP_ITERS}),
        cdeg AS (
          SELECT m.label AS community,
                 COUNT(*) AS n_members,
                 CAST(SUM(d.outdeg) AS BIGINT) AS degree_sum
          FROM mem m JOIN deg d ON d.src = m.node
          GROUP BY m.label
        ),
        intra AS (
          SELECT a.label AS community, COUNT(*) AS intra_directed
          FROM edges e
          JOIN mem a ON a.node = e.src
          JOIN mem b ON b.node = e.dst
          WHERE a.label = b.label
          GROUP BY a.label
        ),
        contrib AS (
          SELECT c.community, c.n_members, c.degree_sum,
                 CAST(COALESCE(i.intra_directed, 0) AS BIGINT) AS intra_directed,
                 CAST(COALESCE(i.intra_directed, 0) * e
                      - c.degree_sum * c.degree_sum AS BIGINT) AS contrib_num
          FROM cdeg c LEFT JOIN intra i USING (community) CROSS JOIN etot
        ),
        top AS (
          SELECT * FROM contrib ORDER BY n_members DESC, community LIMIT {_MOD_TOP}
        ),
        total AS (
          SELECT CAST(-1 AS BIGINT) AS community,
                 CAST(SUM(n_members) AS BIGINT) AS n_members,
                 CAST(SUM(degree_sum) AS BIGINT) AS degree_sum,
                 CAST(SUM(intra_directed) AS BIGINT) AS intra_directed,
                 CAST(SUM(contrib_num) AS BIGINT) AS contrib_num
          FROM contrib
        )
        SELECT community, n_members, degree_sum, intra_directed, contrib_num,
               CAST(contrib_num AS DOUBLE)
                 / (CAST(e AS DOUBLE) * CAST(e AS DOUBLE)) AS modularity
        FROM (SELECT * FROM total UNION ALL SELECT * FROM top) u
        CROSS JOIN etot
        ORDER BY CASE WHEN community = -1 THEN 1 ELSE 0 END DESC,
                 n_members DESC, community
        """
    )
    return "".join(parts)


@query("x_graph_modularity", oracle=_modularity_oracle())
def x_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the quality metric that
    tells a curation pipeline whether its cheap clustering actually found
    structure (Q ≈ 0: no better than random; Q ≳ 0.3: strong communities)
    before downstream stages trust the groups. Emits the TOTAL row
    (community = -1, modularity = Q) plus the top-{top} communities with
    their exact contribution.

    Exactness: with E = directed edge count, per-community contribution
    ``contrib_num = intra_directed·E − degree_sum²`` is pure int64
    (Q = Σ contrib_num / E²), so the hash gate certifies the whole
    computation; the single double division at the end divides two
    exactly-representable integers (< 2^53) — correctly rounded
    identically in both engines. At 100 TB scale widen contrib to
    DECIMAL(38,0): E² can pass 2^63 when |E| > ~3e9.

    Scale shape: one edges⋈labels⋈labels intra-count (both joins on the
    node key, same partitioning LPA itself used), one label-keyed degree
    agg, E as a broadcast one-row aggregate; top-k via
    TakeOrderedAndProject. Linear in |edges| beyond LPA itself."""
    edges = cached_copurchase_edges(spark, sf_dir)
    labels = cached_lpa_labels(spark, sf_dir)
    etot = edges.agg(F.count("*").alias("e"))
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    cdeg = (
        labels.join(deg, labels["node"] == deg["src"])
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum("outdeg").cast("bigint").alias("degree_sum"),
        )
    )
    mem_src = labels.select(F.col("node").alias("src"), F.col("label").alias("la"))
    mem_dst = labels.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
    intra = (
        edges.join(mem_src, "src")
        .join(mem_dst, "dst")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count("*").alias("intra_directed"))
    )
    contrib = (
        cdeg.join(intra, "community", "left")
        .crossJoin(F.broadcast(etot))
        .select(
            "community",
            "n_members",
            "degree_sum",
            F.coalesce("intra_directed", F.lit(0).cast("bigint")).alias(
                "intra_directed"
            ),
            (
                F.coalesce("intra_directed", F.lit(0).cast("bigint")) * F.col("e")
                - F.col("degree_sum") * F.col("degree_sum")
            )
            .cast("bigint")
            .alias("contrib_num"),
        )
        # eager checkpoint: TWO consumers (top, total) — unchecked, the
        # whole intra/cdeg join subtree planned and ran twice (the r15
        # before-plan is 606 lines / 42 Exchange, exactly double the
        # after's); contrib is one row per community, so the
        # materialization is metadata-sized (guide §5)
        .localCheckpoint()
    )
    top = contrib.orderBy(F.col("n_members").desc(), "community").limit(_MOD_TOP)
    total = contrib.agg(
        F.lit(-1).cast("bigint").alias("community"),
        F.sum("n_members").cast("bigint").alias("n_members"),
        F.sum("degree_sum").cast("bigint").alias("degree_sum"),
        F.sum("intra_directed").cast("bigint").alias("intra_directed"),
        F.sum("contrib_num").cast("bigint").alias("contrib_num"),
    )
    return (
        total.unionByName(top)
        .crossJoin(F.broadcast(etot))
        .select(
            "community",
            "n_members",
            "degree_sum",
            "intra_directed",
            "contrib_num",
            (
                F.col("contrib_num").cast("double")
                / (F.col("e").cast("double") * F.col("e").cast("double"))
            ).alias("modularity"),
        )
        .orderBy(
            F.when(F.col("community") == -1, 1).otherwise(0).desc(),
            F.col("n_members").desc(),
            "community",
        )
    )


x_graph_modularity.__doc__ = x_graph_modularity.__doc__.format(top=_MOD_TOP)


# ---------------------------------------------------------------------------
# k-core peeling layers (round 8)
# ---------------------------------------------------------------------------

_KCORE_K = 3        # minimum within-subgraph degree to survive a peel round
_KCORE_ROUNDS = 3   # fixed peel rounds (unrolled in the oracle)
_KCORE_MIN_CO = 2   # strong-tie gate: parts co-purchased in >= 2 orders


def _cached_strong_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-or-build the STRONG-TIE edge list (co-occurrence ≥
    _KCORE_MIN_CO) from the versioned snapshot store — same
    materialize-the-graph-once discipline as
    :func:`cached_copurchase_edges`, distinct key because the tie gate
    changes the relation."""
    from ..sources.versioned import load_or_build

    def build() -> DataFrame:
        li = (
            tables(spark, sf_dir)["lineitem"]
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        a, b = li.alias("a"), li.alias("b")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") != F.col("b.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
            )
            .agg(F.count("*").alias("c"))
            .where(F.col("c") >= _KCORE_MIN_CO)
            .select("src", "dst")
        )

    return load_or_build(spark, "graph_edges", sf_dir, f"strong{_KCORE_MIN_CO}", build)


def _kcore_oracle() -> str:
    parts = [
        f"""
        WITH li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS MATERIALIZED (
          SELECT src, dst FROM (
            SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS c
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
            GROUP BY 1, 2
          ) WHERE c >= {_KCORE_MIN_CO}
        ),
        n0 AS MATERIALIZED (
          SELECT src AS node, COUNT(*) AS degree0 FROM edges GROUP BY src
        )"""
    ]
    prev = "n0"
    for i in range(_KCORE_ROUNDS):
        parts.append(
            f""",
        e{i + 1} AS MATERIALIZED (
          SELECT e.src, e.dst FROM edges e
          JOIN {prev} a ON a.node = e.src
          JOIN {prev} b ON b.node = e.dst
        ),
        n{i + 1} AS MATERIALIZED (
          SELECT src AS node FROM e{i + 1}
          GROUP BY src HAVING COUNT(*) >= {_KCORE_K}
        )"""
        )
        prev = f"n{i + 1}"
    survive_case = " ".join(
        f"WHEN s{i + 1}.node IS NULL THEN {i + 1}"
        for i in range(_KCORE_ROUNDS)
    )
    joins = "\n".join(
        f"        LEFT JOIN n{i + 1} s{i + 1} ON s{i + 1}.node = n0.node"
        for i in range(_KCORE_ROUNDS)
    )
    parts.append(
        f"""
        SELECT n0.node AS part_key, n0.degree0,
               CAST(CASE {survive_case} ELSE 0 END AS INT) AS peeled_round,
               (s{_KCORE_ROUNDS}.node IS NOT NULL) AS in_core
        FROM n0
{joins}
        ORDER BY part_key
        """
    )
    return "".join(parts)


@query("x_kcore_layers", oracle=_kcore_oracle())
def x_kcore_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling over the STRONG-TIE co-purchase graph (parts
    co-occurring in >= {co} orders): {r} synchronous peel rounds at
    k = {k}, emitting every node's verdict — the round it was peeled
    (1..{r}) or 0 with ``in_core`` set if it survived all rounds. The
    onion-layer view a curation pipeline uses to separate densely
    interlinked cores (hubs, boilerplate clusters, link farms) from the
    sparse periphery; complements CC (membership), LPA (communities),
    PageRank (importance) and triangles (local density).

    Determinism: peeling is a pure function of the edge set — each round
    simultaneously removes every node whose within-subgraph degree is
    below k (no removal order exists to matter, unlike sequential peel).
    All arithmetic is integer counts; the oracle unrolls the identical
    recurrence.

    Scale shape: the strong-tie gate is the same wedge join as
    copurchase_edges plus a COUNT >= {co} filter (bounded by order fan-
    out). Each round is two left-semi joins of edges against the ~shrinking
    survivor set (both sides partitioned on the join key) + one src-keyed
    count — linear in \\|edges\\| per round, {r} fixed rounds, lineage cut
    per round, no driver-side state."""
    edges = _cached_strong_edges(spark, sf_dir)
    return (
        kcore_verdicts(edges, _KCORE_K, _KCORE_ROUNDS)
        .withColumnRenamed("node", "part_key")
        .orderBy("part_key")
    )


x_kcore_layers.__doc__ = x_kcore_layers.__doc__.format(
    co=_KCORE_MIN_CO, r=_KCORE_ROUNDS, k=_KCORE_K
)


def kcore_verdicts(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Synchronous k-core peel over a SYMMETRIC (src, dst) edge list:
    ``rounds`` rounds of simultaneously removing every node whose
    within-subgraph degree is < k. Returns (node, degree0, peeled_round,
    in_core) — peeled_round 1..rounds, or 0 with in_core for survivors.
    The reusable core behind :func:`x_kcore_layers`; the hypothesis
    property test drives it with random graphs to probe empty-core and
    cascade cases beyond the fixture."""
    n0 = edges.groupBy("src").agg(F.count("*").alias("degree0")).select(
        F.col("src").alias("node"), "degree0"
    )
    survivors = [n0.select("node")]
    cur = survivors[0]
    for _ in range(rounds):
        alive = (
            edges.join(cur.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(cur.withColumnRenamed("node", "dst"), "dst", "left_semi")
        )
        cur = (
            alive.groupBy("src")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= k)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=False)
        )
        survivors.append(cur)

    out = n0
    for i in range(1, rounds + 1):
        out = out.join(
            survivors[i].withColumn(f"s{i}", F.lit(True)), "node", "left"
        )
    peeled = F.lit(0)
    for i in range(rounds, 0, -1):
        peeled = F.when(F.col(f"s{i}").isNull(), F.lit(i)).otherwise(peeled)
    return out.select(
        "node",
        "degree0",
        peeled.cast("int").alias("peeled_round"),
        F.coalesce(F.col(f"s{rounds}"), F.lit(False)).alias("in_core"),
    )


# ---------------------------------------------------------------------------
# Seeded random walks (node2vec/DeepWalk corpus prep)
# ---------------------------------------------------------------------------

_WALK_STEPS = 4
_WALK_SEED_MOD = 101  # walkers start at parts with part_key % 101 == 0


def _walk_pick_sql(start: str, step: int, cur: str) -> str:
    """DuckDB twin of the walk-step chooser: md5 of ``start:step:cur``
    first-8-hex as integer, mod outdegree → 1-based neighbor rank."""
    return (
        f"1 + (('0x' || substr(md5(CAST({start} AS VARCHAR) || ':{step}:' "
        f"|| CAST({cur} AS VARCHAR)), 1, 8))::BIGINT % outdeg)"
    )


def _walks_oracle() -> str:
    parts = [
        f"""
        WITH li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS MATERIALIZED (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
          GROUP BY 1, 2
        ),
        deg AS MATERIALIZED (
          SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
        ),
        rk AS MATERIALIZED (
          SELECT src, dst,
                 ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
          FROM edges
        ),
        w0 AS MATERIALIZED (
          SELECT src AS start_node, src AS cur FROM deg
          WHERE src % {_WALK_SEED_MOD} = 0
        )"""
    ]
    prev = "w0"
    cols = []
    for s in range(1, _WALK_STEPS + 1):
        pick = _walk_pick_sql(f"{prev}.start_node", s, f"{prev}.cur")
        carry = ", ".join(f"{prev}.hop{i}" for i in range(1, s)) + (", " if cols else "")
        parts.append(
            f""",
        w{s} AS MATERIALIZED (
          SELECT {prev}.start_node, {carry}rk.dst AS hop{s}, rk.dst AS cur
          FROM {prev}
          JOIN deg ON deg.src = {prev}.cur
          JOIN rk ON rk.src = {prev}.cur AND rk.rn = {pick}
        )"""
        )
        cols.append(f"hop{s}")
        prev = f"w{s}"
    hops = ", ".join(cols)
    parts.append(
        f"""
        SELECT start_node, {hops}
        FROM {prev}
        ORDER BY start_node
        """
    )
    return "".join(parts)


@query("x_random_walks", oracle=_walks_oracle())
def x_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic random walks over the co-purchase graph — the
    corpus-prep step of DeepWalk/node2vec (walk sequences feed a skip-gram
    embedder). One {steps}-step walk per seed (parts ≡ 0 mod {mod}); the
    step chooser is md5(start:step:cur) mod outdegree over the dst-ordered
    neighbor ranking, so the 'random' walk is a pure function of the graph
    — no RNG state, identical in any engine, stable under repartitioning.

    Scale (100 TB): each step is two shuffle joins — frontier ⋈ degree
    (pick computation) and frontier ⋈ rank-indexed edges (the move) — on
    the part key; cost per step is O(|walkers|), never O(|edges|), and the
    dst-ordered neighbor index is a corpus artifact built once with the
    edge snapshot. Walkers are embarrassingly parallel; longer walks or
    more walks per node scale linearly."""
    edges = cached_copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    rk = edges.select(
        "src",
        "dst",
        F.row_number().over(Window.partitionBy("src").orderBy("dst")).alias("rn"),
    )
    frontier = deg.where(F.col("src") % _WALK_SEED_MOD == 0).select(
        F.col("src").alias("start_node"), F.col("src").alias("cur")
    )
    for s in range(1, _WALK_STEPS + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("start_node").cast("string"),
                            F.lit(str(s)),
                            F.col("cur").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("outdeg")
            + 1
        )
        hops = [f"hop{i}" for i in range(1, s)]
        frontier = (
            frontier.join(deg, deg["src"] == frontier["cur"])
            .select("start_node", *hops, "cur", pick.alias("pick"))
            .join(
                rk,
                (rk["src"] == F.col("cur")) & (rk["rn"] == F.col("pick")),
            )
            .select(
                "start_node",
                *hops,
                F.col("dst").alias(f"hop{s}"),
                F.col("dst").alias("cur"),
            )
        )
    return frontier.select(
        "start_node", *[f"hop{i}" for i in range(1, _WALK_STEPS + 1)]
    ).orderBy("start_node")


x_random_walks.__doc__ = x_random_walks.__doc__.format(
    steps=_WALK_STEPS, mod=_WALK_SEED_MOD
)


# ---------------------------------------------------------------------------
# Structural edge similarity: neighborhood Jaccard / embeddedness (round 11)
# ---------------------------------------------------------------------------

_JACCARD_TOPK = 50


def _oriented_copurchase(spark: SparkSession, sf_dir: str):
    """(degree frame, oriented-edge frame) for the degree-oriented
    triangle plan: each canonical co-purchase edge oriented from its
    (degree, id)-lower to -higher endpoint, degree-1 endpoints pruned
    (they cannot close triangles). Shared by :func:`x_graph_jaccard`
    and the rehearsal's wedge-count instrumentation."""
    edges = cached_copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    canon = (
        edges.where(F.col("src") < F.col("dst"))
        .join(deg.select(F.col("src").alias("src"), F.col("d").alias("da")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("db")),
            "dst",
        )
        .where((F.col("da") > 1) & (F.col("db") > 1))
        .select("src", "dst", "da", "db")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("src") < F.col("dst"))
    )
    # oriented edge (c → y): ord(c) < ord(y) under (degree, id); carry
    # ord(y) so wedge endpoints can be ordered without another join
    oriented = canon.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("c"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("y"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dy"),
    ).localCheckpoint(eager=False)
    return deg, oriented


def oriented_wedge_count(spark: SparkSession, sf_dir: str) -> int:
    """Σ dout·(dout−1)/2 over the oriented frame — the exact row count
    of x_graph_jaccard's wedge self-join output, i.e. the work the plan
    does before closure. Recorded in BENCH_SCALE each round (VERDICT
    r11 #6) so the linearity argument stays MEASURED: a 10× replica
    must show ~10× wedges, and the time ratio is judged against that."""
    _, oriented = _oriented_copurchase(spark, sf_dir)
    n = (
        oriented.groupBy("c")
        .agg(F.count("*").alias("oc"))
        .agg(F.sum(F.expr("oc * (oc - 1) DIV 2")).alias("w"))
        .collect()[0][0]
    )
    return int(n or 0)


@query(
    "x_graph_jaccard",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    canon AS (SELECT src, dst FROM edges WHERE src < dst),
    common AS (
      -- triangles through each edge: common third vertices of (u, v)
      SELECT c.src AS u, c.dst AS v, COUNT(*) AS cc
      FROM canon c
      JOIN edges e1 ON e1.src = c.src
      JOIN edges e2 ON e2.src = c.dst AND e2.dst = e1.dst
      GROUP BY 1, 2
    )
    SELECT cm.u AS src, cm.v AS dst,
           CAST(cm.cc AS BIGINT) AS n_common,
           CAST(du.d + dv.d - cm.cc AS BIGINT) AS n_union,
           CAST(cm.cc AS DOUBLE) / (du.d + dv.d - cm.cc) AS jaccard
    FROM common cm
    JOIN deg du ON du.src = cm.u
    JOIN deg dv ON dv.src = cm.v
    ORDER BY jaccard DESC, src, dst
    LIMIT {_JACCARD_TOPK}
    """,
)
def x_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} EDGES by neighborhood Jaccard (embeddedness): for every
    existing co-purchase edge (u, v), |N(u)∩N(v)| / |N(u)∪N(v)| — the
    link-strength / community-embeddedness metric; the intersection
    count is exactly the edge\'s TRIANGLE count. Complements
    ml_item_item_similarity (factor-space cosine, rows-only) with an
    exact, hash-certified structural face.

    Plan — DEGREE-ORIENTED triangle counting (Suri–Vassilvitskii / the
    GraphX shape), third iteration of this operator\'s plan and the one
    that actually survives scale:

    1. The all-co-neighbor-pairs wedge join: Σ_w deg(w)² pair fan-out —
       298M wedges at sf0.1 on this graph (avg deg ≈ 180), measured
       26 s; quadratic in density. Rejected.
    2. Adjacency-array intersect (carry sorted neighbor arrays onto
       each edge row): 2 s at sf0.1 — but ONLY because the |V|
       adjacency frame broadcasts; past the broadcast threshold every
       edge row drags two ~deg·8-byte arrays through an exchange
       (|E|·avg-deg ≈ 100 GB of shuffle at a mere 10×). The 10×
       rehearsal flagged it at 12.2× — the broadcast cliff, not a
       plan you\'d ship. Kept ONLY as the documented small-graph fast
       path. Rejected as the default.
    3. THIS plan: orient each edge from its (degree, id)-lower to
       -higher endpoint; wedges come from ORIENTED out-pairs only
       (Σ dout², where orientation bounds dout ≈ O(√|E|): 41M vs 298M
       wedges at sf0.1), the closure join back against oriented edges
       confirms each triangle EXACTLY ONCE, and every row shuffled
       anywhere is at most three bigints — no fat payloads, no
       broadcast dependence. Per-edge counts come from exploding each
       triangle to its 3 canonical edges. Everything scales linearly
       in triangles + wedges with uniform keys.

    Constant-factor cut (round 12, VERDICT r11 #6): the closure join —
    the plan's dominant exchange, all ~41M wedge rows at sf0.1 —
    carries its (b, cc) key PACKED into one bigint (b<<32 | cc) when
    vertex ids fit 31 bits (one scalar max-id check; two-column join
    otherwise — ids outgrow packing around |V| ≈ 2e9). Same rows, same
    join, but a single-long shuffle key instead of a two-long struct:
    measured 4.4–6.1 s → 1.6–2.3 s for the full query at sf0.1. The
    judge-suggested degree-1 prune is also applied at the canon stage
    (deg-1 endpoints cannot close triangles) but is a no-op on this
    fixture — min co-purchase degree is 38, and only 70 of 19 952
    oriented sources have out-degree 1, which is also why an
    out-degree≥2 semi-join on the wedge frame was measured and
    rejected (the extra join costs more than 70 pruned rows return).

    Edges sharing zero neighbors carry Jaccard 0 and are filtered
    (they cannot reach a positive top-{k}). Endpoints stay in the
    union term (n_union = du + dv − n_common counts u and v once
    each — the standard link-prediction convention)."""
    edges = cached_copurchase_edges(spark, sf_dir)
    deg, oriented = _oriented_copurchase(spark, sf_dir)
    # one scalar: can (b, cc) pack into a single bigint shuffle key?
    # Both ends guarded (ADVICE r12 #2): a negative id corrupts shiftleft
    # packing as silently as an oversized one.
    id_range = edges.agg(
        F.max(F.greatest(F.col("src"), F.col("dst"))).alias("hi"),
        F.min(F.least(F.col("src"), F.col("dst"))).alias("lo"),
        F.count(F.lit(1)).alias("n2"),
    ).collect()[0]
    pack_ok = (
        id_range["hi"] is not None
        and id_range["hi"] < (1 << 31)
        and id_range["lo"] >= 0
    )
    n_parts = int(
        max(
            spark.sparkContext.defaultParallelism,
            min(4096, (id_range["n2"] or 0) // 2 // 2_000_000 + 1),
        )
    )
    # Closure-exchange width ∝ the ORIENTED EDGE count (free: ride the
    # id-range agg below with a count on the same pass over `edges`; the
    # symmetric edge count is exactly 2× the oriented one). With the
    # SHUFFLE_HASH closure join below, per-task memory is the BUILD side
    # only — |E|/n_parts packed closing keys — so ~2M keys (~30 MB) per
    # partition keeps every build in-memory at any scale while the wedge
    # side streams with zero memory footprint. Capped at 4096 (the
    # 100 TB formula yields thousands of partitions — a cluster drains
    # them in waves; nothing here is local-mode tuning).
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedge_cond = (F.col("o1.c") == F.col("o2.c")) & (
        (F.col("o1.dy") < F.col("o2.dy"))
        | ((F.col("o1.dy") == F.col("o2.dy")) & (F.col("o1.y") < F.col("o2.y")))
    )
    # closure: the wedge (b, cc) has ord(b) < ord(cc), so if {b, cc} is
    # an edge its oriented form is exactly b → cc — one equi-join, each
    # triangle found exactly once
    # The closure join is SHUFFLE_HASH-hinted with the CLOSING edges as
    # the build side — the round-13 fix for the 12.76× time-at-10×-work
    # flag (VERDICT r12 #1). The sort-merge closure sorted the full wedge
    # volume by bk: at 10× data that is ~13M rows per reduce task against
    # ~300 MB of per-task execution memory — every task spills at once
    # (measured 88–110 s at sf1.0). Shuffled-hash streams the wedge side
    # with ZERO memory footprint and builds only |E|/n_parts closing keys
    # per task (measured 12–16 s at sf1.0, wedge volume unchanged at
    # exactly 10×). The width is pinned via repartition on the CHEAP
    # closing side — EnsureRequirements then co-partitions the wedge side
    # into the same n_parts with a single exchange (an explicit
    # repartition of the wedges themselves would ADD a second full-volume
    # exchange: measured +34 s at sf1.0). AQE skew-split still covers
    # residual hot keys.
    if pack_ok:
        wedges = o1.join(o2, wedge_cond).select(
            F.col("o1.c").alias("a"),
            (F.shiftleft(F.col("o1.y"), 32) + F.col("o2.y")).alias("bk"),
        )
        closing = oriented.select(
            (F.shiftleft(F.col("c"), 32) + F.col("y")).alias("bk")
        ).repartition(n_parts, "bk")
        triangles = wedges.join(closing.hint("shuffle_hash"), "bk").select(
            "a",
            F.shiftright(F.col("bk"), 32).alias("b"),
            F.expr("bk & 4294967295").alias("cc"),
        )
    else:
        wedges = o1.join(o2, wedge_cond).select(
            F.col("o1.c").alias("a"),
            F.col("o1.y").alias("b"),
            F.col("o2.y").alias("cc"),
        )
        triangles = wedges.join(
            oriented.select(F.col("c").alias("b"), F.col("y").alias("cc"))
            .repartition(n_parts, "b", "cc")
            .hint("shuffle_hash"),
            ["b", "cc"],
        )
    tri_edges = triangles.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
                ),
                F.struct(
                    F.least("a", "cc").alias("u"),
                    F.greatest("a", "cc").alias("v"),
                ),
                F.struct(
                    F.least("b", "cc").alias("u"),
                    F.greatest("b", "cc").alias("v"),
                ),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    counts = tri_edges.groupBy("u", "v").agg(F.count("*").alias("n_common"))
    du = deg.select(F.col("src").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("src").alias("v"), F.col("d").alias("dv"))
    return (
        counts.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            F.col("n_common").cast("long").alias("n_common"),
            (F.col("du") + F.col("dv") - F.col("n_common"))
            .cast("long")
            .alias("n_union"),
            (
                F.col("n_common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "src", "dst")
        .limit(_JACCARD_TOPK)
    )


x_graph_jaccard.__doc__ = x_graph_jaccard.__doc__.format(k=_JACCARD_TOPK)


# ---------------------------------------------------------------------------
# k-truss peeling (round 12): EDGE-level decomposition
# ---------------------------------------------------------------------------

_KTRUSS_K = 5        # an edge survives a peel round iff its triangle
                     # support within the current subgraph is >= K-2 = 3
_KTRUSS_ROUNDS = 3   # fixed synchronous peel rounds (unrolled oracle,
                     # k-core's fixed-round verdict semantics)
_KTRUSS_MOD = 2      # deterministic part-key sampling (SCC's mod-sampling
                     # doctrine): the mod-2 subgraph peels with RICH
                     # dynamics — every round strictly shrinks the edge set
                     # at both fixture scales (sf0.01: 28 889 → 25 634 →
                     # 24 156 → 23 333), where the full graph leaves >99%
                     # of edges untouched — and cuts triangle volume 8×
                     # for Spark and oracle alike


def _orient_canonical(cur: DataFrame) -> DataFrame:
    """Degree-orient a canonical (u < v) edge set: each edge emitted from
    its (degree, id)-lower endpoint ``c`` to the higher ``y`` (``dy`` =
    deg(y) carried so wedge endpoints order without another join).
    Shared by :func:`_edge_support` and the rehearsal's per-round wedge
    instrumentation (VERDICT r12 #5)."""
    sym = cur.select("u", "v").unionAll(
        cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    canon = (
        cur.join(deg.select(F.col("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return canon.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("c"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("dy"),
    ).localCheckpoint(eager=False)


#: Per-(session, sf_dir) memo of the peel's per-round (edges, support)
#: frames (ADVICE r13 #3: ktruss_round_wedge_counts used to REPLAY the
#: full peel — support joins included — solely to record wedge volumes,
#: roughly doubling rehearsal cost). EAGER checkpoints: the frames are
#: multi-consumer (the stats rows, the next round, AND the rehearsal
#: instrumentation), and a lazy checkpoint reused across invocations
#: hits the AQE stale-accumulator failure (x_source_overlap_kmv, r12).
_KTRUSS_ROUNDS_MEMO: dict[tuple, list[tuple[DataFrame, DataFrame]]] = {}


def ktruss_peel_rounds(
    spark: SparkSession, sf_dir: str
) -> list[tuple[DataFrame, DataFrame]]:
    """``[(edges_r, support_r)]`` for each peel round: the synchronous
    peel's per-round surviving-edge set and its per-edge triangle
    support, computed ONCE per (session, sf_dir) and shared by
    x_ktruss_peel (stats + verdicts) and the rehearsal's per-round wedge
    instrumentation (:func:`ktruss_round_wedge_counts`)."""
    import os

    from ..memo import session_memo

    def build() -> list[tuple[DataFrame, DataFrame]]:
        cur = (
            cached_copurchase_edges(spark, sf_dir)
            .where(
                (F.col("src") < F.col("dst"))
                & (F.col("src") % _KTRUSS_MOD == 0)
                & (F.col("dst") % _KTRUSS_MOD == 0)
            )
            .select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .localCheckpoint()
        )
        # Packing is only sound for ids in [0, 2^31): a NEGATIVE id would
        # corrupt the shiftleft packing just as silently as an oversized
        # one, so the guard checks both ends (ADVICE r12 #2).
        id_range = cur.agg(
            F.max(F.greatest(F.col("u"), F.col("v"))).alias("hi"),
            F.min(F.least(F.col("u"), F.col("v"))).alias("lo"),
        ).collect()[0]
        pack_ok = (
            id_range["hi"] is not None
            and id_range["hi"] < (1 << 31)
            and id_range["lo"] >= 0
        )
        rounds: list[tuple[DataFrame, DataFrame]] = []
        for r in range(_KTRUSS_ROUNDS + 1):
            sup = _edge_support(cur, pack_ok).localCheckpoint()
            rounds.append((cur, sup))
            if r < _KTRUSS_ROUNDS:
                cur = (
                    sup.where(F.col("support") >= _KTRUSS_K - 2)
                    .select("u", "v")
                    .localCheckpoint()
                )
        return rounds

    return session_memo(
        _KTRUSS_ROUNDS_MEMO, spark, (os.path.normpath(sf_dir),), build
    )


def ktruss_round_wedge_counts(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Per-peel-round oriented-wedge row counts for x_ktruss_peel — the
    exact row volume of each round's support join, i.e. the work the
    query does per round. Recorded in BENCH_SCALE each round (VERDICT
    r12 #5) so the 10× time ratio is judged against MEASURED work, the
    same contract as x_graph_jaccard's :func:`oriented_wedge_count`.
    Reuses the memoized peel rounds (:func:`ktruss_peel_rounds`), so the
    support joins run once per session, not once per instrumentation
    pass (ADVICE r13 #3); only the cheap degree-orient aggregate runs
    per round here."""
    out: dict[str, int] = {}
    for r, (edges_r, _sup) in enumerate(ktruss_peel_rounds(spark, sf_dir)):
        n = (
            _orient_canonical(edges_r)
            .groupBy("c")
            .agg(F.count("*").alias("oc"))
            .agg(F.sum(F.expr("oc * (oc - 1) DIV 2")).alias("w"))
            .collect()[0][0]
        )
        out[f"round{r}"] = int(n or 0)
    return out


def _edge_support(cur: DataFrame, pack_ok: bool = False) -> DataFrame:
    """Per-canonical-edge triangle support of the CURRENT edge set
    (``cur``: (u, v) with u < v), via degree-oriented enumeration —
    the x_graph_jaccard plan shape: orient each edge from its
    (degree, id)-lower to -higher endpoint, wedge-join oriented
    out-pairs (Σ dout² with dout bounded ≈ O(√|E|)), close against the
    oriented edge set, then explode each triangle once to its three
    canonical edges. Every shuffled row is ≤ 3 bigints."""
    oriented = _orient_canonical(cur)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedge_cond = (F.col("o1.c") == F.col("o2.c")) & (
        (F.col("o1.dy") < F.col("o2.dy"))
        | ((F.col("o1.dy") == F.col("o2.dy")) & (F.col("o1.y") < F.col("o2.y")))
    )
    # Wedge rows carry TWO longs (a, packed bk) and the triangle frame is
    # exploded to its 3 canonical edges in ONE pass (array-of-structs
    # explode, never a 3-way unionAll — a union would re-run the whole
    # wedge+closure join per branch: measured 41 s vs ~10 s at sf0.1).
    # Closure is SHUFFLE_HASH with the edge side as the build (the
    # x_graph_jaccard r13 rule): sort-merge would sort the full wedge
    # volume per round — the spill that made jaccard 12.76× at 10× data —
    # while hash streams it with zero memory against an |E|/parts build.
    if pack_ok:
        wedges = o1.join(o2, wedge_cond).select(
            F.col("o1.c").alias("a"),
            (F.shiftleft(F.col("o1.y"), 32) + F.col("o2.y")).alias("bk"),
        )
        closing = oriented.select(
            (F.shiftleft(F.col("c"), 32) + F.col("y")).alias("bk")
        )
        tri = wedges.join(closing.hint("shuffle_hash"), "bk").select(
            "a",
            F.shiftright(F.col("bk"), 32).alias("b"),
            F.expr("bk & 4294967295").alias("c2"),
        )
    else:
        wedges = o1.join(o2, wedge_cond).select(
            F.col("o1.c").alias("a"),
            F.col("o1.y").alias("b"),
            F.col("o2.y").alias("c2"),
        )
        tri = wedges.join(
            oriented.select(F.col("c").alias("b"), F.col("y").alias("c2")).hint(
                "shuffle_hash"
            ),
            ["b", "c2"],
        )
    exploded = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
                ),
                F.struct(
                    F.least("a", "c2").alias("u"),
                    F.greatest("a", "c2").alias("v"),
                ),
                F.struct(
                    F.least("b", "c2").alias("u"),
                    F.greatest("b", "c2").alias("v"),
                ),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    return exploded.groupBy("u", "v").agg(F.count("*").alias("support"))


def _ktruss_oracle() -> str:
    parts = [
        f"""
    WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey % {_KTRUSS_MOD} = 0 AND b.l_partkey % {_KTRUSS_MOD} = 0
    )"""
    ]
    for r in range(_KTRUSS_ROUNDS + 1):
        parts.append(
            f""",
    s{r} AS MATERIALIZED (
      SELECT u, v, COUNT(*) AS s FROM (
        SELECT w1.u, w1.v FROM e{r} w1
          JOIN e{r} w2 ON w1.u = w2.u AND w1.v < w2.v
          JOIN e{r} e3 ON e3.u = w1.v AND e3.v = w2.v
        UNION ALL
        SELECT w1.u, w2.v FROM e{r} w1
          JOIN e{r} w2 ON w1.u = w2.u AND w1.v < w2.v
          JOIN e{r} e3 ON e3.u = w1.v AND e3.v = w2.v
        UNION ALL
        SELECT w1.v, w2.v FROM e{r} w1
          JOIN e{r} w2 ON w1.u = w2.u AND w1.v < w2.v
          JOIN e{r} e3 ON e3.u = w1.v AND e3.v = w2.v
      ) GROUP BY 1, 2
    )"""
        )
        if r < _KTRUSS_ROUNDS:
            parts.append(
                f""",
    e{r + 1} AS MATERIALIZED (
      SELECT u, v FROM s{r} WHERE s >= {_KTRUSS_K - 2}
    )"""
            )
    stat_rows = []
    for r in range(_KTRUSS_ROUNDS + 1):
        stat_rows.append(
            f"""
    SELECT CAST({r} AS INT) AS round,
           CAST((SELECT COUNT(*) FROM e{r}) AS BIGINT) AS n_edges,
           CAST(COALESCE((SELECT SUM(s) FROM s{r}), 0) // 3 AS BIGINT)
             AS n_triangles,
           CAST(COALESCE((SELECT bit_xor(
             ('0x' || substr(md5(CAST(u AS VARCHAR) || '-'
                             || CAST(v AS VARCHAR)), 1, 15))::BIGINT)
             FROM e{r}), 0) AS BIGINT) AS edges_xor"""
        )
    parts.append("\n    UNION ALL".join(stat_rows))
    return "".join(parts)


@query("x_ktruss_peel", oracle=_ktruss_oracle())
def x_ktruss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-truss peeling over the co-purchase graph: {r} synchronous
    rounds of simultaneously removing every EDGE whose triangle support
    within the current subgraph is below {k}−2, emitting per-round
    (surviving-edge count, triangle count, order-independent edge-set
    xor). The EDGE-level cohesion decomposition complementing k-core's
    node-level peel: a k-truss is the strongest standard cohesion
    certificate short of cliques (every edge in ≥ k−2 triangles), the
    community-backbone filter for boilerplate/link-farm detection.

    Determinism: synchronous peel is a pure function of the edge set
    (no removal order), all arithmetic integer; the oracle unrolls the
    identical recurrence. Fixed-round verdict semantics (like
    x_kcore_layers), certified on the deterministic mod-{m} part-key
    subgraph where every round strictly shrinks the edge set at both
    fixture scales (the full graph leaves >99% of edges untouched —
    a near-vacuous certification); the run-to-fixpoint face is
    pytest-proven on K5 (the 5-truss) via :func:`_edge_support`.

    Scale shape: each round's support comes from degree-oriented
    triangle enumeration (the x_graph_jaccard plan: oriented wedges
    Σ dout² ≈ O(|E|^1.5) worst case, 3-bigint shuffle rows, uniform
    keys, no broadcast dependence), one support aggregation, one
    filter; the triangle count rides the SAME aggregation as the
    support (Σ support / 3) so stats cost no extra pass. {r} fixed
    rounds, lineage cut per round.

    Reference contrast: no graph surface in the reference; extends
    §2.13's graph family (k-core r8, triangles r9, jaccard r11,
    SCC r12) with the edge-decomposition face."""
    edge_hash = F.expr(
        "cast(conv(substring(md5(concat(cast(u as string), '-',"
        " cast(v as string))), 1, 15), 16, 10) as bigint)"
    )

    def stats(r: int, edges_r: DataFrame, support_r: DataFrame) -> DataFrame:
        e_stats = edges_r.agg(
            F.count("*").cast("long").alias("n_edges"),
            F.coalesce(F.expr("bit_xor(eh)"), F.lit(0).cast("long")).alias(
                "edges_xor"
            ),
        )
        t_stats = support_r.agg(
            F.coalesce(
                F.expr("sum(support) div 3"), F.lit(0).cast("long")
            ).alias("n_triangles")
        )
        return (
            e_stats.join(F.broadcast(t_stats))
            .select(
                F.lit(r).cast("int").alias("round"),
                "n_edges",
                "n_triangles",
                "edges_xor",
            )
        )

    # The peel itself (support joins, pack guard, round frames) lives in
    # the session-memoized :func:`ktruss_peel_rounds` so the rehearsal's
    # wedge instrumentation shares one pass (ADVICE r13 #3).
    out: DataFrame | None = None
    for r, (edges_r, sup) in enumerate(ktruss_peel_rounds(spark, sf_dir)):
        row = stats(r, edges_r.withColumn("eh", edge_hash), sup)
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out


x_ktruss_peel.__doc__ = x_ktruss_peel.__doc__.format(
    k=_KTRUSS_K, r=_KTRUSS_ROUNDS, m=_KTRUSS_MOD
)


# ---------------------------------------------------------------------------
# Degree assortativity moment components (round 13)
# ---------------------------------------------------------------------------


@query(
    "x_graph_assortativity",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY 1),
    pairs AS (
      SELECT du.d AS du, dv.d AS dv
      FROM edges e
      JOIN deg du ON du.v = e.src
      JOIN deg dv ON dv.v = e.dst
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(COUNT(*) AS BIGINT) AS n_edge_rows,
           CAST(SUM(du) AS BIGINT) AS sum_du,
           CAST(SUM(du * du) AS BIGINT) AS sum_du2,
           CAST(SUM(du * dv) AS BIGINT) AS sum_dudv,
           (SELECT CAST(MIN(d) AS BIGINT) FROM deg) AS min_degree,
           (SELECT CAST(MAX(d) AS BIGINT) FROM deg) AS max_degree
    FROM pairs
    """,
)
def x_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity MOMENT COMPONENTS of the co-purchase graph —
    the exact bigint sums behind Newman's degree-correlation coefficient
    r = (M·Σdudv − (Σdu)²) / (M·Σdu² − (Σdu)²) over the symmetric
    edge-endpoint pairs, plus node count and the degree extremes. The
    float ratio stays OUT of the emitted face (a ratio of emitted
    bigints adds no information — the x_recs_eval rule); every emitted
    number is an exact integer both engines must reproduce.

    Why a pipeline wants it: assortativity is the one-number summary of
    hub-wiring (r < 0: hubs link to leaves — star/spam topology; r > 0:
    hubs link to hubs — community cores), the cheap pre-flight that
    predicts whether degree-oriented plans (jaccard/k-truss wedges) will
    see balanced Σdout² — the engine's own graph operators' cost model
    depends on exactly these moments.

    Plan: one degree aggregation, two node-keyed joins to decorate each
    edge row with endpoint degrees, one global sum — linear in |E|,
    uniform keys, no iteration. The moments are additive, so at 100 TB
    this runs as ONE pass with map-side partials over the materialized
    edge snapshot every other graph query already shares.

    Reference contrast: no graph surface in the reference; §2.13 graph
    family's structural-statistic face (modularity r10 measures a given
    partition; this measures the raw wiring).
    """
    edges = cached_copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    pairs = edges.join(
        deg.select(F.col("src"), F.col("d").alias("du")), "src"
    ).join(
        deg.select(F.col("src").alias("dst"), F.col("d").alias("dv")), "dst"
    )
    deg_stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.min("d").cast("long").alias("min_degree"),
        F.max("d").cast("long").alias("max_degree"),
    )
    moments = pairs.agg(
        F.count("*").cast("long").alias("n_edge_rows"),
        F.sum("du").cast("long").alias("sum_du"),
        F.sum(F.col("du") * F.col("du")).cast("long").alias("sum_du2"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("sum_dudv"),
    )
    return moments.join(F.broadcast(deg_stats)).select(
        "n_nodes",
        "n_edge_rows",
        "sum_du",
        "sum_du2",
        "sum_dudv",
        "min_degree",
        "max_degree",
    )
