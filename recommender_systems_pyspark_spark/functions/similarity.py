"""Similarity search over the ``embeddings`` table (north-star extension):
brute-force cosine top-k as the exact baseline, an IVF-style coarse-quantized
variant as the scale path, and cosine pair joins for embedding near-dup.

Scale architecture (100 TB of vectors):
- Brute force is one broadcast of the query vector + a map-side cosine +
  TakeOrderedAndProject — exact, reads everything once. Right answer for
  one-off queries; wrong cost model for high QPS.
- The IVF variant clusters once (here: per-label centroids as the coarse
  quantizer), probes the nearest n_probe cells, and scans only those
  partitions. With the corpus written partitioned-by-cell, partition
  pruning makes the probe touch ~n_probe/n_cells of the data.
- All vector math is fold-based higher-order functions over array<float>
  cast to double — JVM-side, no Python, no UDF.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import tables
from .centroids import centroids_assembled, sql_centroids, sql_lloyd_parts, sql_nearest


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double — left-fold, matching DuckDB's list_dot_product
    accumulation order on DOUBLE[] so results are bit-comparable."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / norm(a) / norm(b)


#: DuckDB twin of cosine() — same operand order and association.
_SQL_COSINE = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    " / sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))"
)


@query(
    "x_knn_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           {_SQL_COSINE.format(a='embedding', b='qv')} AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def x_knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbours of vec_id 0. The query vector
    is broadcast (1 row); cosine is map-side; ORDER BY+LIMIT compiles to
    TakeOrderedAndProject — per-partition top-k heaps, no global sort."""
    t = tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cosine(F.col("embedding"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# SRP coarse quantizer (signed random projections)
# ---------------------------------------------------------------------------
#
# _SRP_BITS deterministic integer-valued hyperplanes; a vector's cell is the
# 6-bit word of dot-product signs → up to 64 cells, ≥ √N for every fixture
# scale (N ≤ 4096) and re-derivable in any engine (the hyperplane components
# are exact small integers, so the sign of the fold-ordered dot product is
# bit-identical between Spark and DuckDB — no libm, no RNG state).
# At 100 TB: cells are the blocking/partitioning key — raise _SRP_BITS so
# 2^bits ≳ √N (cell population ~ N/2^bits must fit a shuffle partition), or
# swap in trained k-means centroids; the plan shape is unchanged.

_SRP_BITS = 6


def _srp_component(b: int, d) -> "Column | int":
    """Hyperplane component hp(b, d) = (1 + (b·131071 + d·524287) % 97) − 49:
    pseudo-random integers in [−48, 48], exactly representable in double."""
    return (F.lit(1) + (F.lit(b * 131071) + d * 524287) % 97) - 49


def _hp_fn(b: int):
    """Single-arg lambda factory for F.transform. MUST be single-arg: a
    two-parameter lambda (e.g. ``lambda d, b=b``) makes F.transform pass
    the array INDEX as the second argument, silently shadowing the captured
    hyperplane number."""
    return lambda d: _srp_component(b, d).cast("double")


def srp_cell(emb: Column) -> Column:
    """SRP cell id of an embedding: Σ_b 2^b·[⟨emb, hp_b⟩ > 0]. Pure
    fold-based codegen; one pass over the vector per hyperplane."""
    cell = F.lit(0)
    for b in range(_SRP_BITS):
        hp = F.transform(F.sequence(F.lit(0), F.size(emb) - 1), _hp_fn(b))
        cell = cell + F.when(dot(emb, hp) > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return cell


def _sql_srp_cell(emb: str) -> str:
    """DuckDB twin of srp_cell — identical hyperplanes, identical
    list_dot_product accumulation order."""
    terms = []
    for b in range(_SRP_BITS):
        hp = (
            f"list_transform(range(0, len({emb})),"
            f" d -> CAST((1 + ({b * 131071} + d * 524287) % 97) - 49 AS DOUBLE))"
        )
        terms.append(
            f"(CASE WHEN list_dot_product({emb}::DOUBLE[], {hp}) > 0"
            f" THEN {1 << b} ELSE 0 END)"
        )
    return " + ".join(terms)


@query(
    "x_embed_neardup_pairs",
    oracle=f"""
    WITH c AS (
      SELECT vec_id, embedding, {_sql_srp_cell('embedding')} AS cell
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell,
           {_SQL_COSINE.format(a='a.embedding', b='b.embedding')} AS cos_sim
    FROM c a JOIN c b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE {_SQL_COSINE.format(a='a.embedding', b='b.embedding')} >= 0.4
    """,
)
def x_embed_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by a REAL coarse quantizer:
    each vector hashes to one of 2^_SRP_BITS SRP cells (sign pattern of 6
    deterministic random projections — the binary-code LSH family whose
    collision probability is 1 − θ/π per bit), the pair join runs INSIDE
    cells only, then the exact cosine threshold verifies candidates.

    Scale shape: cell assignment is map-only codegen; the join is one
    shuffle on a ~uniform key whose cardinality grows with _SRP_BITS
    (pytest asserts ≥ √N distinct cells at fixture scale), so within-cell
    work is (N/2^bits)² per cell, not (N/5)² as the r1 label blocking was.
    Near-dups in adjacent cells are the recall tradeoff every LSH blocker
    makes; multi-probe (flip one bit per probe) is the standard widening.
    With the corpus landed partitionBy(cell) (see tests), a probe of one
    cell is partition PRUNING — it never touches other cells' files."""
    t = tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "embedding", srp_cell(F.col("embedding")).alias("cell"))
    a = e.alias("a")
    b = e.alias("b")
    sim = cosine(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.cell").alias("cell"),
            sim.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.4)
    )


def srp_probe_cells(cell: Column) -> Column:
    """Multi-probe cell set: the home cell plus its _SRP_BITS one-bit-flip
    neighbors — the standard LSH recall widening (a near-dup pair split by
    exactly one hyperplane lands in adjacent cells; probing neighbors
    recovers it at ×(bits+1) candidate cost, still nowhere near
    all-pairs)."""
    return F.array(cell, *[cell.bitwiseXOR(F.lit(1 << b)) for b in range(_SRP_BITS)])


#: Multi-probe cell list in DuckDB: home cell + one-bit flips (xor).
_SQL_PROBE_CELLS = "[cell, " + ", ".join(
    f"xor(cell, {1 << b})" for b in range(_SRP_BITS)
) + "]"


@query(
    "x_embed_neardup_multiprobe",
    oracle=f"""
    WITH c AS (
      SELECT vec_id, embedding, {_sql_srp_cell('embedding')} AS cell
      FROM embeddings
    ), probes AS (
      SELECT vec_id AS probe_id, unnest({_SQL_PROBE_CELLS}) AS cell
      FROM c
    ), cand AS (
      SELECT DISTINCT least(p.probe_id, c.vec_id) AS vec_a,
                      greatest(p.probe_id, c.vec_id) AS vec_b
      FROM probes p JOIN c ON p.cell = c.cell AND p.probe_id <> c.vec_id
    )
    SELECT vec_a, vec_b,
           {_SQL_COSINE.format(a='a.embedding', b='b.embedding')} AS cos_sim
    FROM cand
    JOIN c a ON a.vec_id = cand.vec_a
    JOIN c b ON b.vec_id = cand.vec_b
    WHERE {_SQL_COSINE.format(a='a.embedding', b='b.embedding')} >= 0.4
    """,
)
def x_embed_neardup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with MULTI-PROBE SRP blocking: each vector
    probes its own cell and all 6 one-bit-neighbor cells, candidates are
    cosine-verified at the same ≥ 0.4 threshold. Output schema matches
    x_embed_neardup_pairs minus the cell column; its pair set is a strict
    superset (pytest proves superset + recall gain vs the exact all-pairs
    ground truth at fixture scale). Plan: probe explode is a ×7 map-only
    fan-out of (vec_id, cell); the join stays a uniform-key equi-join.

    Determinism note: cos_sim is always cosine(emb[vec_a], emb[vec_b]) —
    the embeddings are swapped into id order BEFORE the cosine, because
    (dot/‖a‖)/‖b‖ and (dot/‖b‖)/‖a‖ differ in final-ulp rounding, and
    dropDuplicates keeps an arbitrary survivor of the two probe
    directions. Ordering the operands makes the value independent of
    which side probed, which is what lets this query carry a full value
    oracle rather than a rows-only check."""
    t = tables(spark, sf_dir)
    e = t["embeddings"].select(
        "vec_id", "embedding", srp_cell(F.col("embedding")).alias("cell")
    )
    probes = e.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_emb"),
        F.explode(srp_probe_cells(F.col("cell"))).alias("cell"),
    )
    swap = F.col("probe_id") > F.col("vec_id")
    cand = (
        probes.join(e, "cell")
        .where(F.col("probe_id") != F.col("vec_id"))
        .select(
            F.least("probe_id", "vec_id").alias("vec_a"),
            F.greatest("probe_id", "vec_id").alias("vec_b"),
            F.when(swap, F.col("embedding")).otherwise(F.col("probe_emb")).alias("emb_a"),
            F.when(swap, F.col("probe_emb")).otherwise(F.col("embedding")).alias("emb_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    sim = cosine(F.col("emb_a"), F.col("emb_b"))
    return (
        cand.select("vec_a", "vec_b", sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.4)
    )


def _sql_ivf_topk() -> str:
    return f"""
    WITH cd AS ({sql_centroids()}),
    cent AS (
      SELECT label, list(centroid ORDER BY dim) AS centroid
      FROM cd GROUP BY label
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probed AS (
      SELECT label FROM cent, q
      ORDER BY {_SQL_COSINE.format(a='centroid', b='qv')} DESC, label
      LIMIT 3
    )
    SELECT e.vec_id, e.label,
           {_SQL_COSINE.format(a='e.embedding', b='q.qv')} AS cos_sim
    FROM embeddings e JOIN probed USING (label), q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


@query("x_knn_ivf_topk", oracle=_sql_ivf_topk())
def x_knn_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-10 for vec_id 0: coarse-quantize by
    centroid (labels play the cell assignment; production would k-means
    once and persist), probe the 3 nearest cells, brute-force only inside
    them. Centroids are a tiny aggregate (posexplode → per-dimension exact
    quantized average) that broadcasts; the probed scan is the only data
    touched — with the corpus partitioned by cell on disk, that is
    partition pruning, not a filter.

    Full oracle since r4: the centroid is the same engine-portable
    quantized average x_embed_centroids hash-matches, and the cosine fold
    matches DuckDB's list_dot_product accumulation, so the whole probe —
    cell ranking included — replays in SQL. (The previous F.avg centroid
    was order-dependent in the last ulp, which is all that kept this
    rows-only.) pytest additionally measures recall vs the exact query."""
    t = tables(spark, sf_dir)
    e = t["embeddings"]
    cent = centroids_assembled(e)

    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    probed = (
        cent.crossJoin(F.broadcast(q))
        .select("label", cosine(F.col("centroid"), F.col("qv")).alias("cell_sim"))
        .orderBy(F.col("cell_sim").desc(), "label")
        .limit(3)
        .select("label")
    )

    return (
        e.where(F.col("vec_id") != 0)
        .join(F.broadcast(probed), "label", "left_semi")
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cosine(F.col("embedding"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup)
# ---------------------------------------------------------------------------

#: Within-cluster cosine threshold above which the higher-id vector is a
#: semantic duplicate of the lower-id one. SemDeDup's epsilon knob.
_SEMDEDUP_TAU = 0.4


#: Lloyd iterations for the SemDeDup quantizer — 2 keeps the unrolled
#: oracle CTE chain short and the training cost at 3 assignment passes;
#: SemDeDup needs the cells as a BLOCKING structure, not a converged
#: clustering, so more iterations buy nothing the pair join uses.
_SEMDEDUP_ITERS = 2


#: The √N quantizer's k in the oracles' Lloyd unroll: ceil(sqrt(N)) of
#: the training rows ``e``, as :func:`cached_centroids` derives it.
_SQL_SQRTN_K = "(SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)"


def _sql_semdedup() -> str:
    chain = ",\n".join(sql_lloyd_parts(_SQL_SQRTN_K, _SEMDEDUP_ITERS))
    return f"""
    WITH {chain},
    assign AS (
      SELECT a.vec_id, emb.label, a.v AS embedding,
             CAST(a.cell AS INT) AS cluster
      FROM a{_SEMDEDUP_ITERS} a JOIN embeddings emb ON emb.vec_id = a.vec_id
    ),
    pairs AS (
      SELECT b.vec_id,
             {_SQL_COSINE.format(a='a.embedding', b='b.embedding')} AS cos_sim
      FROM assign a JOIN assign b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_SQL_COSINE.format(a='a.embedding', b='b.embedding')}
              >= {_SEMDEDUP_TAU}
    ),
    dups AS (
      SELECT vec_id, COUNT(*) AS n_close, MAX(cos_sim) AS max_sim
      FROM pairs GROUP BY vec_id
    )
    SELECT a.vec_id, a.label, a.cluster,
           COALESCE(d.n_close, 0) AS n_close,
           d.max_sim,
           (d.vec_id IS NOT NULL) AS pruned
    FROM assign a LEFT JOIN dups d USING (vec_id)
    ORDER BY a.vec_id
    """


def semdedup_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-or-train the SemDeDup coarse quantizer (VERDICT r7 #6).

    The √N-k-means fit is fully deterministic, so the k×d centroid model
    is a pure function of (corpus, n_iter) — train it ONCE, publish it
    through the versioned snapshot store, and let every later x_semdedup
    run (bench reruns, driver grades, downstream pipelines) pay only the
    broadcast assignment + within-cell prune. At 100 TB this is the only
    sane shape: the quantizer is model-sized (k×d doubles), refitting it
    per query re-reads the whole corpus once per Lloyd round. Cache key
    is a fingerprint of the sf-dir's files + iteration count; doubles
    round-trip parquet bit-exactly, so a reloaded model assigns
    identically to a fresh fit and the unrolled DuckDB oracle keeps
    hash-matching."""
    return cached_centroids(
        spark,
        sf_dir,
        "all",
        tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding"),
    )


def cached_centroids(
    spark: SparkSession, sf_dir: str, subset: str, train: DataFrame
) -> DataFrame:
    """Load-or-train a √N-k-means model for ``train`` (a (vec_id,
    embedding) frame), keyed by (sf-dir contents, subset, iters) in the
    versioned snapshot store. Shared by the full-corpus and incremental
    semdedup paths. k = ceil(sqrt(N)) keeps the within-cell pair joins
    (N/k)²·k = N^1.5-bounded instead of N²/k at a fixture-fixed k."""
    from ..sources.versioned import load_or_build
    from .vectors import kmeans

    return load_or_build(
        spark,
        "semdedup_centroids",
        sf_dir,
        f"{subset}_i{_SEMDEDUP_ITERS}",
        lambda: kmeans(train, math.ceil(math.sqrt(train.count())), _SEMDEDUP_ITERS),
    )


@query("x_semdedup", oracle=_sql_semdedup())
def x_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication of an embedding corpus: coarse-cluster every vector,
    compare pairs ONLY within a cluster, and prune any vector whose
    cluster contains a more-similar-than-tau (cosine >= 0.4) neighbor
    with a smaller vec_id (deterministic keep-lowest). Emits the full
    per-vector verdict: assigned cluster, number of smaller-id near-dups,
    the strongest similarity, and the pruned flag — the curation filter
    that removed ~50% of LAION with no quality loss in the paper.

    The coarse quantizer is TRAINED k-means with k = ceil(sqrt(N))
    (:func:`cached_centroids`: :func:`vectors.kmeans`, the x_embed_kmeans
    trainer), replacing the r6 fixture-fixed per-label centroids whose
    (N/k)² pair join was the one measured super-linear operator (19.5× at
    10× data, BENCH_SCALE_r06). With k ~ sqrt(N) both the assignment (N·k) and the
    within-cell pair join (N²/k) are N^1.5-bounded — the paper's own
    sizing discipline. The quantizer chain stays engine-portable
    (deterministic seeds, quantized-exact updates, (dist, cell) ties), so
    the oracle unrolls the TRAINED model into SQL and the driver
    hash-gates assignment + verdicts end to end.

    Plan shape at 100 TB: centroid assignment is a broadcast cross join
    against the k×d model whose (dist, cell) ``min_by`` partially
    aggregates map-side, so one row per vector shuffles
    (:func:`vectors.nearest_centroid`); the pair join shuffles once on
    the cluster key; dup counting is one map-side-combinable aggregate on
    vec_id."""
    from .vectors import nearest_centroid

    t = tables(spark, sf_dir)
    e = t["embeddings"]
    # Train-once: the quantizer comes from the versioned model store
    # (semdedup_centroids) — first call fits and publishes, every later
    # call assigns against the persisted k×d model (VERDICT r7 #6).
    assign = (
        nearest_centroid(
            e.select("vec_id", "label", "embedding"),
            semdedup_centroids(spark, sf_dir),
            "embedding",
        )
        .select(
            "vec_id",
            "label",
            "embedding",
            F.col("cell").cast("int").alias("cluster"),
            # per-vector norm computed ONCE here: cosine() is the
            # left-associative (dot / norm_a) / norm_b, so factoring the
            # norms out of the pair join is bit-identical to the oracle's
            # _SQL_COSINE while cutting the per-pair fold work 3x.
            norm(F.col("embedding")).alias("nrm"),
        )
        # eager checkpoint: THREE consumers (both pair-join sides and the
        # verdict frame) each re-ran the k×d argmin fold + norm over the
        # whole corpus — the r14 multi-consumer rule (guide §5); the
        # checkpoint makes the CPU-dense assignment a one-pass cost
        .localCheckpoint()
    )

    a = assign.alias("a")
    b = assign.alias("b")
    sim = (
        dot(F.col("a.embedding"), F.col("b.embedding"))
        / F.col("a.nrm")
        / F.col("b.nrm")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("b.vec_id").alias("vec_id"), sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= _SEMDEDUP_TAU)
    )
    dups = pairs.groupBy("vec_id").agg(
        F.count("*").alias("n_close"), F.max("cos_sim").alias("max_sim")
    )
    return (
        assign.drop("embedding", "nrm")
        .join(dups.withColumn("hit", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "cluster",
            F.coalesce("n_close", F.lit(0).cast("long")).alias("n_close"),
            "max_sim",
            F.coalesce("hit", F.lit(False)).alias("pruned"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Incremental SemDeDup: new batch vs established corpus (round 8)
# ---------------------------------------------------------------------------

#: Batch split: every 11th vector arrives as the "new batch"; the rest
#: are the established (already-deduplicated) corpus.
_INC_MOD = 11


def sql_semdedup_inc_parts(pred_new: str) -> str:
    """CTE parts (already comma-joined) for the incremental-semdedup
    oracle, parameterized on the batch predicate: the quantizer chain is
    trained on ``NOT pred_new`` rows and ends in ``new_assign`` (vec_id,
    label, v, cell — the batch's map-side cell assignment) and ``hits``
    (vec_id, n_close, max_sim — established near-dups per batch vector).
    Shared by x_semdedup_incremental and the cross-modal ingest gate."""
    chain = sql_lloyd_parts(
        _SQL_SQRTN_K, _SEMDEDUP_ITERS, where=f"NOT ({pred_new})"
    )
    chain.append(
        f"""newv AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v
      FROM embeddings WHERE {pred_new}
    )"""
    )
    chain += sql_nearest("new_assign", "newv", f"c{_SEMDEDUP_ITERS}")
    return ",\n".join(chain) + f""",
    hits AS (
      SELECT n.vec_id,
             COUNT(*) AS n_close,
             MAX({_SQL_COSINE.format(a='n.v', b='x.v')}) AS max_sim
      FROM new_assign n JOIN a{_SEMDEDUP_ITERS} x ON x.cell = n.cell
      WHERE {_SQL_COSINE.format(a='n.v', b='x.v')} >= {_SEMDEDUP_TAU}
      GROUP BY n.vec_id
    )"""


def _sql_semdedup_incremental() -> str:
    return f"""
    WITH {sql_semdedup_inc_parts(f"vec_id % {_INC_MOD} = 0")}
    SELECT n.vec_id, n.label, CAST(n.cell AS INT) AS cluster,
           COALESCE(h.n_close, 0) AS n_close,
           h.max_sim,
           (h.vec_id IS NOT NULL) AS pruned
    FROM new_assign n LEFT JOIN hits h USING (vec_id)
    ORDER BY n.vec_id
    """


@query("x_semdedup_incremental", oracle=_sql_semdedup_incremental())
def x_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup — the steady-state a production corpus
    actually runs: the quantizer is trained on the ESTABLISHED corpus
    only (vec_id % {m} != 0; at scale it is loaded from the versioned
    model store, cf. :func:`semdedup_centroids`), the arriving batch
    (vec_id % {m} == 0) is assigned to cells map-side against the
    broadcast centroids, and each new vector is compared ONLY to
    established vectors in its own cell — pruned iff any existing
    neighbor has cosine >= {tau}. Per-batch cost is batch_size x
    cell_occupancy, independent of corpus^2 and of every previous
    batch (the batch analogue of `x_dedup_incremental`'s text path).

    Emits the new batch's verdicts: assigned cluster, count of
    established near-dups, strongest similarity, pruned flag — the rows
    a curation pipeline appends to the corpus manifest each ingest tick.

    Plan shape: train once on the established corpus (amortized to zero
    via the model store), ONE broadcast (k x d centroids) for the batch
    assignment, one cluster-keyed join batch x corpus — no batch-batch
    or corpus-corpus pairs anywhere."""
    return semdedup_inc_verdicts(
        spark, sf_dir, f"est_mod{_INC_MOD}", F.col("vec_id") % _INC_MOD == 0
    ).orderBy("vec_id")


def semdedup_inc_verdicts(
    spark: SparkSession, sf_dir: str, subset: str, is_new: Column
) -> DataFrame:
    """Batch-vs-corpus semantic near-dup verdicts (vec_id, label, cluster,
    n_close, max_sim, pruned) for the ``is_new`` slice of embeddings,
    with the √N quantizer load-or-trained on the complement under the
    given model-store ``subset`` key. The Spark twin of
    :func:`sql_semdedup_inc_parts`; shared by x_semdedup_incremental and
    the cross-modal ingest gate."""
    from .vectors import nearest_centroid

    e = tables(spark, sf_dir)["embeddings"]
    existing = e.where(~is_new)
    batch = e.where(is_new)

    # load-or-train on the ESTABLISHED corpus only (versioned model
    # store — the steady-state ingest tick never refits)
    model = cached_centroids(
        spark, sf_dir, subset, existing.select("vec_id", "embedding")
    )
    corpus = nearest_centroid(
        existing.select("vec_id", "embedding"), model, "embedding"
    ).select(
        F.col("cell").alias("cluster"),
        F.col("embedding").alias("x_emb"),
        norm(F.col("embedding")).alias("x_nrm"),
    )
    new_assign = (
        nearest_centroid(batch.select("vec_id", "label", "embedding"), model, "embedding")
        .select(
            "vec_id",
            "label",
            F.col("cell").cast("int").alias("cluster"),
            "embedding",
            norm(F.col("embedding")).alias("nrm"),
        )
        # eager checkpoint: TWO consumers (hits join + verdict frame)
        # re-ran the batch's argmin assignment — same multi-consumer rule
        # as x_semdedup's assign (batch-sized, so the blocks are small)
        .localCheckpoint()
    )
    sim = (
        dot(F.col("embedding"), F.col("x_emb")) / F.col("nrm") / F.col("x_nrm")
    )
    hits = (
        new_assign.join(corpus, "cluster")
        .select("vec_id", sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= _SEMDEDUP_TAU)
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_close"), F.max("cos_sim").alias("max_sim"))
    )
    return (
        new_assign.drop("embedding", "nrm")
        .join(hits.withColumn("hit", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "cluster",
            F.coalesce("n_close", F.lit(0).cast("long")).alias("n_close"),
            "max_sim",
            F.coalesce("hit", F.lit(False)).alias("pruned"),
        )
    )


x_semdedup_incremental.__doc__ = x_semdedup_incremental.__doc__.format(
    m=_INC_MOD, tau=_SEMDEDUP_TAU
)


# ---------------------------------------------------------------------------
# IVF recall calibration: measured accuracy of the ANN scale path (round 8)
# ---------------------------------------------------------------------------

#: Fixed probe-query panel: the first _RECALL_Q vec_ids. A CONSTANT-size
#: panel (not a fixed fraction) keeps the exact ground-truth side linear
#: in corpus size — panel x corpus, never corpus x corpus.
_RECALL_Q = 32
_RECALL_K = 10
_RECALL_MAX_PROBE = 3


def _sql_ivf_recall() -> str:
    return f"""
    WITH cd AS ({sql_centroids()}),
    cent AS (
      SELECT label, list(centroid ORDER BY dim) AS centroid
      FROM cd GROUP BY label
    ),
    q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_RECALL_Q}
    ),
    pairs AS MATERIALIZED (
      SELECT q.qid, e.vec_id, e.label,
             {_SQL_COSINE.format(a='e.embedding', b='q.qv')} AS sim
      FROM embeddings e JOIN q ON e.vec_id <> q.qid
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM pairs
      ) WHERE rn <= {_RECALL_K}
    ),
    cellrank AS (
      SELECT qid, label,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
               {_SQL_COSINE.format(a='centroid', b='qv')} DESC, label
             ) AS probe_rank
      FROM cent, q
    ),
    ivf AS (
      SELECT nprobe, qid, vec_id FROM (
        SELECT g.nprobe, p.qid, p.vec_id,
               ROW_NUMBER() OVER (PARTITION BY g.nprobe, p.qid
                                  ORDER BY p.sim DESC, p.vec_id) AS rn
        FROM pairs p
        JOIN cellrank c ON c.qid = p.qid AND c.label = p.label
        JOIN (SELECT unnest(generate_series(1, {_RECALL_MAX_PROBE})) AS nprobe) g
          ON c.probe_rank <= g.nprobe
      ) WHERE rn <= {_RECALL_K}
    )
    SELECT i.nprobe,
           (SELECT COUNT(*) FROM q) AS n_queries,
           COUNT(*) AS retrieved,
           COUNT(e.vec_id) AS hits,
           COUNT(e.vec_id) * 1000000
             // ((SELECT COUNT(*) FROM q) * {_RECALL_K}) AS recall_ppm
    FROM ivf i LEFT JOIN exact e
      ON e.qid = i.qid AND e.vec_id = i.vec_id
    GROUP BY i.nprobe
    ORDER BY i.nprobe
    """


@query("x_ivf_recall", oracle=_sql_ivf_recall())
def x_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN quality ledger — the measured recall@{k} of the coarse-
    quantized scale path (x_knn_ivf_topk's plan) against exact brute
    force, per probe depth 1..{p}. This is the number an operator tunes
    n_probe against before pointing the index at 100 TB: the exact tier
    runs only over a CONSTANT {q}-query panel (panel x corpus — linear in
    corpus, never corpus x corpus), and the entire curve — cell ranking,
    per-probe candidate sets, per-query top-{k}, hit counting — replays
    bit-identically in the oracle because cosine uses the shared fold
    ordering and recall is integer ppm.

    Plan shape: the panel and the k x d centroid table are broadcast
    (two rows << any shuffle); pairs = one map-side pass over the corpus;
    both rank steps are {q}-key (x probe-depth) windows; the probe-depth
    fan-out is a 3x map-only explode. One scan of embeddings feeds the
    whole curve."""
    t = tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < _RECALL_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    pairs = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
    )
    by_sim = [F.col("sim").desc(), F.col("vec_id")]
    w_exact = Window.partitionBy("qid").orderBy(*by_sim)
    exact = (
        pairs.withColumn("rn", F.row_number().over(w_exact))
        .where(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id", F.lit(True).alias("is_hit"))
    )
    cellrank = (
        centroids_assembled(e)
        .crossJoin(F.broadcast(q))
        .select(
            "qid",
            "label",
            F.row_number()
            .over(
                Window.partitionBy("qid").orderBy(
                    cosine(F.col("centroid"), F.col("qv")).desc(), F.col("label")
                )
            )
            .alias("probe_rank"),
        )
    )
    w_ivf = Window.partitionBy("nprobe", "qid").orderBy(*by_sim)
    ivf = (
        # probe_rank <= max BEFORE the sequence fan-out: F.sequence(a, b)
        # with a > b counts DOWN (it would mint phantom nprobe values),
        # and candidates beyond the probe horizon are dead weight anyway
        pairs.join(F.broadcast(cellrank), ["qid", "label"])
        .where(F.col("probe_rank") <= _RECALL_MAX_PROBE)
        .select(
            "qid",
            "vec_id",
            "sim",
            F.explode(
                F.sequence(F.col("probe_rank"), F.lit(_RECALL_MAX_PROBE))
            ).alias("nprobe"),
        )
        .withColumn("rn", F.row_number().over(w_ivf))
        .where(F.col("rn") <= _RECALL_K)
    )
    n_q = q.agg(F.count("*").alias("n_queries"))
    return (
        ivf.join(exact, ["qid", "vec_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.count("*").alias("retrieved"),
            F.count(F.when(F.col("is_hit"), 1)).alias("hits"),
        )
        .crossJoin(F.broadcast(n_q))
        .select(
            "nprobe",
            "n_queries",
            "retrieved",
            "hits",
            F.expr(f"hits * 1000000 DIV (n_queries * {_RECALL_K})").alias(
                "recall_ppm"
            ),
        )
        .orderBy("nprobe")
    )


x_ivf_recall.__doc__ = x_ivf_recall.__doc__.format(
    k=_RECALL_K, p=_RECALL_MAX_PROBE, q=_RECALL_Q
)


# ---------------------------------------------------------------------------
# Filtered vector search (round 11)
# ---------------------------------------------------------------------------

_FILTER_NQ = 3
_FILTER_K = 5


@query(
    "x_knn_filtered_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding AS qv
      FROM embeddings WHERE vec_id < {_FILTER_NQ}
    ),
    scored AS (
      SELECT q.qid, e.vec_id, e.label,
             {_SQL_COSINE.format(a='e.embedding', b='q.qv')} AS cos_sim
      FROM embeddings e JOIN q
        ON e.label <> q.qlabel AND e.vec_id >= {_FILTER_NQ}
    )
    SELECT qid, vec_id, label, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored
    ) WHERE rnk <= {_FILTER_K}
    ORDER BY qid, cos_sim DESC, vec_id
    """,
)
def x_knn_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — top-{k} cosine neighbours per query
    under a metadata predicate (candidates must carry a DIFFERENT label
    than the query: the cross-category-recommendation / exclude-own-
    cluster shape every production vector store exposes as
    "filtered ANN"). {nq} query vectors run as one BATCH: the query
    frame (id, label, vector) broadcasts, candidates stream through one
    scan, ranking is a per-query window — N queries cost one corpus
    pass, not N.

    This is the PRE-FILTER architecture (predicate applied before
    scoring — recall is exact for the filtered set), certified here as
    the exact face. At 100 TB the same predicate composes with the IVF
    route (x_knn_ivf_topk): probe the nearest cells, intersect the
    cell's postings with the metadata filter, then score — the
    filter-selectivity-vs-nprobe recall tradeoff is what x_ivf_recall
    already measures. POST-filtering (score first, filter the top-k,
    return fewer than k) is the known-broken alternative — this
    operator's window ranks only predicate-passing candidates, so a
    filtered-out high-cosine vector can never evict a valid hit.

    Scale: broadcast queries (constant), one corpus scan with the
    fold-based cosine in codegen, per-query top-k heaps via the window
    over a {nq}-key partitioning."""
    e = tables(spark, sf_dir)["embeddings"]
    q = e.where(F.col("vec_id") < _FILTER_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
    )
    scored = (
        e.where(F.col("vec_id") >= _FILTER_NQ)
        .join(F.broadcast(q), F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _FILTER_K)
        .select("qid", "vec_id", "label", "cos_sim")
        .orderBy("qid", F.desc("cos_sim"), "vec_id")
    )


x_knn_filtered_topk.__doc__ = x_knn_filtered_topk.__doc__.format(
    k=_FILTER_K, nq=_FILTER_NQ
)


# ---------------------------------------------------------------------------
# Cluster representatives: per-cell medoid selection (round 13)
# ---------------------------------------------------------------------------

@query(
    "x_cluster_medoids",
    oracle=f"""
    WITH cent AS ({sql_centroids()}),
    c2 AS (SELECT label, list(centroid ORDER BY dim) AS cv
           FROM cent GROUP BY label),
    scored AS (
      SELECT e.label, e.vec_id,
             {_SQL_COSINE.format(a='e.embedding', b='c2.cv')} AS cos_c
      FROM embeddings e JOIN c2 USING (label)
    ),
    sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cell_size
           FROM embeddings GROUP BY label)
    SELECT s.label, sz.cell_size, s.vec_id AS medoid_vec_id,
           s.cos_c AS medoid_cos
    FROM (SELECT *, row_number()
                    OVER (PARTITION BY label ORDER BY cos_c DESC, vec_id) AS rn
          FROM scored) s
    JOIN sz USING (label)
    WHERE rn = 1
    ORDER BY s.label
    """,
)
def x_cluster_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell MEDOID selection: for every embedding cell (label), the
    member vector with the highest cosine similarity to the cell's
    centroid (ties → lowest vec_id) plus the cell size — the exemplar a
    corpus card, coreset seed, or nearest-real-example explanation
    actually ships. A centroid is a synthetic average that corresponds
    to no document; the medoid is the closest REAL member, which is why
    representative-selection pipelines (and k-medoids-style curation)
    want this face next to x_embed_centroids.

    Plan: the per-label centroid is the engine-portable quantized
    average (shared :mod:`centroids` leaf — identical to the
    x_embed_centroids surface the oracle replays), re-assembled and
    BROADCAST onto the members (the centroid frame is #cells rows); one
    map-side cosine per member, then a per-cell window argmax — shuffle
    bounded by one |cells|-keyed exchange of (id, score) rows, no pair
    joins, no quadratic anything. At 100 TB with k ≈ √N cells both the
    broadcast and the window partitions stay balanced by construction.

    Reference contrast: no embedding surface in the reference
    (SURVEY.md §2.13 similarity family: centroids r6, IVF r8/r10,
    SemDeDup r8) — this adds the representative-extraction face.
    """
    from pyspark.sql import Window

    e = tables(spark, sf_dir)["embeddings"]
    cent = centroids_assembled(e)
    scored = e.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        cosine(F.col("embedding"), F.col("centroid")).alias("cos_c"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("cos_c"), "vec_id")
    sz = e.groupBy("label").agg(F.count("*").cast("long").alias("cell_size"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .join(sz, "label")
        .select(
            "label",
            "cell_size",
            F.col("vec_id").alias("medoid_vec_id"),
            F.col("cos_c").alias("medoid_cos"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Embedding centroid drift between corpus versions (round 13)
# ---------------------------------------------------------------------------

@query(
    "x_embed_centroid_drift",
    oracle=f"""
    WITH c_old AS ({sql_centroids("vec_id % 2 = 0")}),
    c_new AS ({sql_centroids("vec_id % 2 = 1")}),
    a_old AS (SELECT label, list(centroid ORDER BY dim) AS cv
              FROM c_old GROUP BY label),
    a_new AS (SELECT label, list(centroid ORDER BY dim) AS cv
              FROM c_new GROUP BY label),
    sz AS (
      SELECT label,
             CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_old,
             CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
      FROM embeddings GROUP BY label
    )
    SELECT sz.label, sz.n_old, sz.n_new,
           {_SQL_COSINE.format(a='a_old.cv', b='a_new.cv')} AS centroid_cos
    FROM sz
    JOIN a_old USING (label)
    JOIN a_new USING (label)
    ORDER BY sz.label
    """,
)
def x_embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor between two corpus versions: split
    the vectors into deterministic OLD/NEW halves (vec_id parity — the
    stand-in for last ingest vs this ingest), compute each cell's
    quantized centroid per half (the shared engine-portable
    centroids.py law), and emit per cell the half sizes and the COSINE
    between its two centroids — the signal an embedding pipeline alarms
    on: a cell whose centroid rotates (cos ≪ 1) means the upstream
    encoder, preprocessing, or population shifted, invalidating IVF
    cells, SemDeDup thresholds, and ANN recall assumptions trained on
    the old geometry. x_tvd_drift watches CATEGORY frequencies; this
    watches the GEOMETRY.

    Plan: two filtered passes of the posexplode centroid aggregation
    (each one uniform (label, dim)-keyed agg), reassembly to #cells
    rows, a broadcast-size 3-way join, one fold-cosine per cell — the
    corpus is touched exactly twice, everything downstream is
    metadata-scale. The cosine fold matches DuckDB's list_dot_product
    accumulation (the _SQL_COSINE twin), so the float column is
    bit-comparable like every cos_sim face.

    Reference contrast: no embedding surface in the reference; §2.13
    drift family (TVD r9, FD r10, KMV overlap r12) gains the
    vector-geometry face.
    """
    e = tables(spark, sf_dir)["embeddings"]
    old = e.where(F.col("vec_id") % 2 == 0)
    new = e.where(F.col("vec_id") % 2 == 1)
    c_old = centroids_assembled(old).select(
        "label", F.col("centroid").alias("cv_old")
    )
    c_new = centroids_assembled(new).select(
        "label", F.col("centroid").alias("cv_new")
    )
    sz = e.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_old"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
    )
    return (
        sz.join(F.broadcast(c_old), "label")
        .join(F.broadcast(c_new), "label")
        .select(
            "label",
            "n_old",
            "n_new",
            cosine(F.col("cv_old"), F.col("cv_new")).alias("centroid_cos"),
        )
        .orderBy("label")
    )
