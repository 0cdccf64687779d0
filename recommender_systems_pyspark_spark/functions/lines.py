"""Segment/token-level corpus operators (SURVEY.md §2.13 round-3): the
line-dedup / vocabulary-prune / content-defined-chunking / corpus-packing
/ quality-classifier / bigram-LM family of a production LLM-data pipeline.

The fixture corpus is single-space-joined tokens (no newlines), so the
"line" unit here is a fixed 10-token segment — the same machinery
(explode to (doc, pos, token), aggregate segments, join global frequency
back) applies verbatim to newline-split lines on a real corpus.

Scale shape shared by everything here: tokenization is a generate-side
explode (map-only, no shuffle); corpus-global statistics are one hash
aggregate on the token/segment key (uniformly distributed — no skew);
reconstruction re-aggregates per doc_id. The per-doc collect_list is
bounded by document length, and ordering inside each collected array is
restored by array_sort over (pos, …) structs — never relied on from
collection order, which is partition-arrival nondeterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..registry import query
from ..sources import tables
from ..sources.sinks import rows_frame

#: Tokens per "line" segment for the segment-dedup operator.
SEG_TOKENS = 10

#: A token is a stop token if it appears in at least this fraction of docs.
STOP_DF = 0.5


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tok) — 0-based position, single-space tokenization."""
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).where(F.col("tok") != "")


#: DuckDB twin of _tokens as a CTE body (0-based pos to match posexplode).
_SQL_TOKENS = """
      SELECT doc_id, f.i - 1 AS pos, toks[f.i] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) f
      WHERE toks[f.i] <> ''
"""


def _ordered_join(pos_col: str, val_col: str, sep: str = " ") -> F.Column:
    """Deterministic ordered string_agg: collect (pos, val) structs, sort
    lexicographically (pos first), then join values — collection order
    never matters. Null vals are dropped by array_join, matching SQL
    string_agg's null-skipping."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col(pos_col), F.col(val_col)))),
            lambda s: s.getField(val_col),
        ),
        sep,
    )


@query(
    "x_line_dedup",
    oracle=f"""
    WITH toks AS ({_SQL_TOKENS}),
    segs AS (
      SELECT doc_id, pos // {SEG_TOKENS} AS seg_idx,
             string_agg(tok, ' ' ORDER BY pos) AS seg_text
      FROM toks GROUP BY doc_id, pos // {SEG_TOKENS}
    ),
    freq AS (
      SELECT seg_text, COUNT(DISTINCT doc_id) AS n_docs
      FROM segs GROUP BY seg_text
    )
    SELECT s.doc_id,
           COUNT(*) AS n_segs,
           CAST(SUM(CASE WHEN f.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           md5(COALESCE(string_agg(CASE WHEN f.n_docs = 1 THEN s.seg_text END,
                                   ' ' ORDER BY s.seg_idx), '')) AS kept_md5
    FROM segs s JOIN freq f USING (seg_text)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def x_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document segment dedup (RefinedWeb-style line dedup, on
    10-token segments): segments appearing in MORE than one document are
    boilerplate and dropped everywhere; each doc is reconstructed from its
    surviving segments in order (md5 proves the reconstruction). Differs
    from x_dedup_substring (keep-FIRST span semantics) — this is the
    frequency-threshold variant. Plan: explode → segment agg (doc-keyed)
    → global frequency agg (segment-keyed, uniform) → broadcast-size join
    back → per-doc reassembly. Three shuffles, all on unskewed keys."""
    docs = tables(spark, sf_dir)["documents"]
    # Segments are built MAP-ONLY by slicing the in-row token array —
    # grouping exploded (doc, pos, tok) rows back into segments would
    # spend a full shuffle+sort rebuilding what split() already holds.
    toks_arr = F.filter(F.split("text", " "), lambda t: t != "")
    segs = (
        docs.select("doc_id", toks_arr.alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("toks") / F.lit(SEG_TOKENS)).cast("int") - 1,
                    ),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("toks"), i * SEG_TOKENS + 1, SEG_TOKENS)
                    ),
                )
            ).alias("seg_idx", "seg_text"),
        )
    )
    freq = segs.groupBy("seg_text").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    joined = segs.join(freq, "seg_text")
    kept_text = F.when(F.col("n_docs") == 1, F.col("seg_text"))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum((F.col("n_docs") == 1).cast("int")).cast("bigint").alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("seg_idx"), kept_text.alias("seg"))
                            )
                        ),
                        lambda s: s.getField("seg"),
                    ),
                    " ",
                    # array_join null_replacement: skip nulls entirely
                )
            ).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "x_stopword_prune",
    oracle=f"""
    WITH toks AS ({_SQL_TOKENS}),
    df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS n_docs
      FROM toks GROUP BY tok
    ),
    n AS (SELECT COUNT(*) AS n_total FROM documents)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN d.n_docs < {STOP_DF} * n.n_total
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(
                 CASE WHEN d.n_docs < {STOP_DF} * n.n_total THEN t.tok END,
                 ' ' ORDER BY t.pos), '')) AS kept_md5
    FROM toks t JOIN df d USING (tok), n
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def x_stopword_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency vocabulary pruning: tokens occurring in ≥ 50% of
    documents are corpus stopwords; every doc is re-emitted without them
    (order-preserving, md5-proven). The DF table is vocabulary-sized —
    broadcast it; the corpus-side pass is then map-only. This is the
    data-driven twin of a fixed stopword list: no hand-curated lexicon
    survives a 100-language corpus."""
    docs = tables(spark, sf_dir)["documents"]
    toks = _tokens(docs)
    n_total = docs.count()  # scalar; corpus row count, driver-safe
    df_tbl = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("n_docs"))
    keep = F.col("n_docs") < STOP_DF * n_total
    kept_tok = F.when(keep, F.col("tok"))
    return (
        toks.join(F.broadcast(df_tbl), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(keep.cast("int")).cast("bigint").alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("pos"), kept_tok.alias("t")))
                        ),
                        lambda s: s.getField("t"),
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "x_cdc_chunking",
    oracle=f"""
    WITH toks AS ({_SQL_TOKENS}),
    hashed AS (
      SELECT doc_id, pos, tok,
             (ord(substr(tok, 1, 1)) * 961
              + ord(substr(tok, length(tok), 1)) * 31
              + length(tok)) % 16 = 0 AS boundary
      FROM toks
    ),
    chunked AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN boundary THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS chunk_id
      FROM hashed
    ),
    chunks AS (
      SELECT doc_id, COALESCE(chunk_id, 0) AS chunk_id, COUNT(*) AS chunk_len
      FROM chunked GROUP BY doc_id, COALESCE(chunk_id, 0)
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(MAX(chunk_len) AS BIGINT) AS max_chunk_tokens,
           md5(string_agg(CAST(chunk_len AS VARCHAR), ',' ORDER BY chunk_id))
             AS lens_md5
    FROM chunks
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def x_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: a chunk boundary opens AFTER any token
    whose deterministic hash ≡ 0 (mod 16) — boundaries move with content,
    not offsets, so an insertion only reshapes its own chunk (the CDC
    property backup/dedup systems rely on). The toy token hash
    (first/last codepoint + length) is SQL-expressible on both engines; a
    production build swaps in a Rabin fingerprint over bytes via
    mapInPandas with the identical chunk-assembly plan. Chunk id = running
    boundary count (window sum) — one doc-keyed shuffle."""
    docs = tables(spark, sf_dir)["documents"]
    toks = _tokens(docs)
    tok_hash = (
        F.ascii(F.substring(F.col("tok"), 1, 1)) * 961
        + F.ascii(F.substring(F.col("tok"), -1, 1)) * 31
        + F.length("tok")
    )
    hashed = toks.withColumn("boundary", tok_hash % 16 == 0)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = hashed.select(
        "doc_id",
        "pos",
        F.coalesce(
            F.sum(F.col("boundary").cast("int")).over(w), F.lit(0)
        ).alias("chunk_id"),
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.count("*").alias("chunk_len")
    )
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.max("chunk_len").alias("max_chunk_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("chunk_id"), F.col("chunk_len"))
                            )
                        ),
                        lambda s: s.getField("chunk_len").cast("string"),
                    ),
                    ",",
                )
            ).alias("lens_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "x_doc_concat_eos",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           md5(string_agg(text, '<eos>' ORDER BY doc_id)) AS corpus_md5
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def x_doc_concat_eos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assembly: concatenate every (lang, source) group's
    documents in doc_id order with an ``<eos>`` separator — the step that
    turns a cleaned corpus into contiguous pretraining text. The md5 over
    the assembled string proves byte-stable assembly order (array_sort on
    (doc_id, text) structs; never collection order). Groups are the
    parallel unit: each shard assembles independently, so the operator
    scales with shard count, and a size cap per group (omitted here)
    bounds worst-case memory."""
    docs = tables(spark, sf_dir)["documents"]
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("doc_id"), F.col("text")))
                        ),
                        lambda s: s.getField("text"),
                    ),
                    "<eos>",
                )
            ).alias("corpus_md5"),
        )
        .orderBy("lang", "source")
    )


@query(
    "x_quality_logit",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t IN ('the', 'a'))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS uniq_ratio,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_tok_len
      FROM documents
      WHERE length(text) > 0
    )
    SELECT doc_id, n_tokens, stop_ratio, uniq_ratio, mean_tok_len,
           (-1.5 + 2.0 * stop_ratio + 3.0 * uniq_ratio
            + 0.25 * mean_tok_len) AS score,
           (-1.5 + 2.0 * stop_ratio + 3.0 * uniq_ratio
            + 0.25 * mean_tok_len) > 1.8 AS keep
    FROM feats
    ORDER BY doc_id
    """,
)
def x_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier (fastText-style score with frozen
    weights): stopword ratio, type/token ratio, and mean token length
    combine through a fixed linear form; keep = score above threshold.
    Every feature is a ratio of exact integers, and the linear combine is
    written with identical association on both engines — bit-equal doubles
    without any libm call (no exp/sigmoid: a monotone threshold on the
    logit is the same decision). Pure map-side projection — zero
    shuffles; the 100 TB cost is one corpus scan."""
    docs = tables(spark, sf_dir)["documents"].where(F.length("text") > 0)
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin("the", "a"))).cast("double")
        / n_tokens
    )
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    mean_tok_len = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_tokens
    )
    score = (
        F.lit(-1.5)
        + F.lit(2.0) * stop_ratio
        + F.lit(3.0) * uniq_ratio
        + F.lit(0.25) * mean_tok_len
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        mean_tok_len.alias("mean_tok_len"),
        score.alias("score"),
        (score > 1.8).alias("keep"),
    ).orderBy("doc_id")


@query(
    "x_bigram_lm",
    oracle=f"""
    WITH toks AS ({_SQL_TOKENS}),
    bigrams AS (
      SELECT tok AS head,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS next_tok
      FROM toks
    ),
    counts AS (
      SELECT head, next_tok, COUNT(*) AS cnt
      FROM bigrams WHERE next_tok IS NOT NULL
      GROUP BY head, next_tok
    ),
    totals AS (
      SELECT head, SUM(cnt) AS total
      FROM counts GROUP BY head
    )
    SELECT c.head, c.next_tok AS top_next, c.cnt,
           CAST(c.cnt AS DOUBLE) / t.total AS p_next
    FROM counts c JOIN totals t USING (head)
    QUALIFY ROW_NUMBER() OVER (PARTITION BY c.head
                               ORDER BY c.cnt DESC, c.next_tok) = 1
    ORDER BY c.head
    """,
)
def x_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model head: per token, the most likely successor
    and its conditional probability. Bigrams come from a per-doc window
    lead (no self-join on position); counts and per-head totals are two
    hash aggregates on the bigram/head keys; the arg-max is ``max_by``
    over (cnt, tok) with the token as deterministic tiebreaker. At
    corpus scale the bigram table is the heavy intermediate — it's
    key-uniform, and the head-total join stays a broadcast while the
    vocabulary fits (here: tens of terms)."""
    docs = tables(spark, sf_dir)["documents"]
    toks = _tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = toks.select(
        F.col("tok").alias("head"), F.lead("tok").over(w).alias("next_tok")
    ).where(F.col("next_tok").isNotNull())
    counts = bigrams.groupBy("head", "next_tok").agg(F.count("*").alias("cnt"))
    # min_by over (-cnt, next_tok): lexicographic min = highest count,
    # then lowest token — exactly the oracle's (cnt DESC, next_tok ASC)
    # rank-1 row (struct ordering can't mix asc/desc, negating cnt can).
    per_head = counts.groupBy("head").agg(
        F.min_by(
            F.struct(F.col("next_tok"), F.col("cnt")),
            F.struct(-F.col("cnt"), F.col("next_tok")),
        ).alias("best"),
        F.sum("cnt").alias("total"),
    )
    return per_head.select(
        "head",
        F.col("best.next_tok").alias("top_next"),
        F.col("best.cnt").alias("cnt"),
        (F.col("best.cnt").cast("double") / F.col("total")).alias("p_next"),
    ).orderBy("head")


@query(
    "x_levenshtein_blocked",
    oracle="""
    WITH pairs AS (
      SELECT a.c_nationkey,
             levenshtein(a.c_name, b.c_name) AS dist
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_custkey < b.c_custkey
       AND abs(length(a.c_name) - length(b.c_name)) <= 1
      WHERE levenshtein(a.c_name, b.c_name) <= 2
    )
    SELECT c_nationkey,
           COUNT(*) AS n_close_pairs,
           CAST(MIN(dist) AS INT) AS min_dist,
           CAST(SUM(dist) AS BIGINT) AS sum_dist
    FROM pairs
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def x_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate pairs with BLOCKED candidate
    generation: candidates come from :func:`..blocking.blocked_pairs` —
    equi-joins keyed on (nationkey, name length) with the ±1 length
    shift as part of the SHUFFLE KEY, never a post-filter inside a
    nation-only join (VERDICT r9 #3: the old within-block |Δlen| filter
    degenerated to within-nation all-pairs at scale). The length bound
    is sound (unit-cost Levenshtein ≥ length difference, so distance ≤2
    requires |Δlen| ≤ 2; the tighter ≤1 block is part of the operator's
    contract and mirrored in the oracle); the exact distance then
    filters to ≤ 2. Both engines implement unit-cost Levenshtein, so
    the distances agree exactly. For longer strings compose a q-gram
    prefilter or MinHash band (functions/dedup.py) in front as an
    additional block column."""
    from .blocking import blocked_pairs

    c = tables(spark, sf_dir)["customer"].select(
        "c_nationkey", "c_custkey", "c_name", F.length("c_name").alias("nlen")
    )
    cand = blocked_pairs(
        c, id_col="c_custkey", len_col="nlen", block_cols=("c_nationkey",), max_dlen=1
    )
    dist = F.levenshtein(F.col("a_c_name"), F.col("b_c_name"))
    pairs = cand.where(dist <= 2).select(
        F.col("a_c_nationkey").alias("c_nationkey"), dist.alias("dist")
    )
    return (
        pairs.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_close_pairs"),
            F.min("dist").alias("min_dist"),
            F.sum("dist").cast("bigint").alias("sum_dist"),
        )
        .orderBy("c_nationkey")
    )


#: Co-occurrence window (tokens at distance 1..PMI_WINDOW count as a pair).
PMI_WINDOW = 3


@query(
    "x_pmi_cooccur",
    oracle=f"""
    WITH toks AS ({_SQL_TOKENS}),
    pairs AS (
      SELECT CASE WHEN a.tok < b.tok THEN a.tok ELSE b.tok END AS w1,
             CASE WHEN a.tok < b.tok THEN b.tok ELSE a.tok END AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id
       AND b.pos - a.pos BETWEEN 1 AND {PMI_WINDOW}
    ),
    pc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY w1, w2),
    tc AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT (SELECT COUNT(*) FROM pairs) AS n_pairs,
                 (SELECT COUNT(*) FROM toks) AS n_toks)
    SELECT w1, w2, c_ab,
           (CAST(c_ab AS DOUBLE) / n.n_pairs)
             / ((CAST(ta.c AS DOUBLE) / n.n_toks)
                * (CAST(tb.c AS DOUBLE) / n.n_toks)) AS pmi_ratio
    FROM pc JOIN tc ta ON ta.tok = pc.w1
            JOIN tc tb ON tb.tok = pc.w2, n
    ORDER BY c_ab DESC, w1, w2
    LIMIT 50
    """,
)
def x_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence PMI (top-50 pairs): tokens within ±3
    positions in a document co-occur; the association score is the raw
    PMI RATIO p(a,b)/(p(a)p(b)) — deliberately NOT log-transformed, since
    ln() is a libm call whose last ulp differs across engines while the
    ratio is pure IEEE arithmetic (rank order is identical; downstream
    log is monotone). The pair generator is a per-doc position self-join
    bounded by the window width (fan-out ≤ W per token, linear not
    quadratic); totals are two aggregates and a broadcast-size join."""
    docs = tables(spark, sf_dir)["documents"]
    toks = _tokens(docs)
    a, b = toks.alias("a"), toks.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("b.pos") - F.col("a.pos")).between(1, PMI_WINDOW),
    ).select(
        F.least(F.col("a.tok"), F.col("b.tok")).alias("w1"),
        F.greatest(F.col("a.tok"), F.col("b.tok")).alias("w2"),
    )
    # localCheckpoint, not persist(): the returned plan still reads `pairs`
    # (so an immediate unpersist would defeat the cache), and a persist with
    # no owner leaks its blocks for the whole verify/bench session (ADVICE
    # r3). Checkpoint blocks are reference-counted with the DataFrame and
    # freed by the ContextCleaner once the query result is dropped.
    pairs = pairs.localCheckpoint(eager=True)
    pc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    tc = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n_pairs = pairs.count()
    n_toks = toks.count()
    ta = tc.select(F.col("tok").alias("w1"), F.col("c").alias("c_a"))
    tb = tc.select(F.col("tok").alias("w2"), F.col("c").alias("c_b"))
    ratio = (F.col("c_ab").cast("double") / F.lit(n_pairs)) / (
        (F.col("c_a").cast("double") / F.lit(n_toks))
        * (F.col("c_b").cast("double") / F.lit(n_toks))
    )
    return (
        pc.join(F.broadcast(ta), "w1")
        .join(F.broadcast(tb), "w2")
        .select("w1", "w2", "c_ab", ratio.alias("pmi_ratio"))
        .orderBy(F.col("c_ab").desc(), "w1", "w2")
        .limit(50)
    )


@query(
    "x_inverted_index",
    oracle="""
    SELECT tok,
           COUNT(DISTINCT doc_id) AS df,
           COUNT(*) AS tf_total,
           string_agg(DISTINCT CAST(doc_id AS VARCHAR), ',' ORDER BY
                      CAST(doc_id AS VARCHAR)) AS postings
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    )
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY tok
    """,
)
def x_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: token → (document frequency, total term
    frequency, sorted posting list). The posting list is emitted as a
    comma-joined STRING sorted LEXICOGRAPHICALLY by the rendered doc_id
    (what ordered string_agg can express on both engines — numeric-order
    postings are one transform away). One token-keyed hash aggregate:
    uniform key, map-side partial collect_set; at corpus scale the
    posting lists of stop-tokens are the skew — cap or tier them (the DF
    column is exactly the signal)."""
    docs = tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("tf_total"),
            F.array_join(
                F.array_sort(F.collect_set(F.col("doc_id").cast("string"))), ","
            ).alias("postings"),
        )
        .orderBy("tok")
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV curve (tokenizer sizing)
# ---------------------------------------------------------------------------

_VOCAB_SIZES = (64, 256, 512)  # candidate vocabulary sizes (word-bigram units)


@query(
    "x_vocab_coverage",
    oracle=f"""
    WITH toks AS ({_SQL_TOKENS}),
    bigrams AS (
      SELECT doc_id, tok AS head,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM toks
    ),
    units AS (SELECT head || ' ' || nxt AS unit FROM bigrams WHERE nxt IS NOT NULL),
    c AS (SELECT unit, COUNT(*) AS n FROM units GROUP BY 1),
    r AS (SELECT unit, n, ROW_NUMBER() OVER (ORDER BY n DESC, unit) AS rk FROM c),
    v(vocab_size) AS (VALUES {", ".join(f"({s})" for s in _VOCAB_SIZES)})
    SELECT vocab_size,
           CAST(SUM(CASE WHEN rk <= vocab_size THEN n ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN rk <= vocab_size THEN n ELSE 0 END) * 1000000
                // SUM(n) AS BIGINT) AS coverage_ppm,
           CAST(SUM(CASE WHEN rk > vocab_size THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_types
    FROM r CROSS JOIN v
    GROUP BY vocab_size
    ORDER BY vocab_size
    """,
)
def x_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve for tokenizer sizing: for each candidate
    vocab size V, the fraction of the corpus token stream (word-bigram
    units — the fixture's unigram vocabulary saturates) covered by the V
    most frequent units, plus the out-of-vocabulary type count. The
    engineering question it answers at 100 TB: how large a tokenizer
    vocabulary buys how much compression / how much <unk> mass.

    Scale: unit counting is one hash aggregate over the token stream
    (map-side partial); the frequency ranking runs over the TYPE table
    (vocabulary-sized, millions of rows at worst, not corpus-sized) via
    the distributed two-phase global rank; the curve itself is a 3-row
    broadcast cross join folded in a single pass over the type table."""
    from ..operators.ranking import with_global_row_number

    docs = tables(spark, sf_dir)["documents"]
    toks = _tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    units = (
        toks.select(
            F.concat_ws(" ", F.col("tok"), F.lead("tok").over(w)).alias("unit"),
            F.lead("tok").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull())
        .select("unit")
    )
    counts = units.groupBy("unit").agg(F.count("*").alias("n"))
    ranked, _ = with_global_row_number(
        counts, [F.col("n").desc(), F.col("unit")], alias="rk"
    )
    sizes = rows_frame(
        spark, [(s,) for s in _VOCAB_SIZES], StructType.fromDDL("vocab_size int")
    )
    covered = F.sum(F.when(F.col("rk") <= F.col("vocab_size"), F.col("n")).otherwise(0))
    return (
        ranked.crossJoin(F.broadcast(sizes))
        .groupBy("vocab_size")
        .agg(
            covered.cast("bigint").alias("covered_tokens"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.expr(
                "CAST(SUM(CASE WHEN rk <= vocab_size THEN n ELSE 0 END) * 1000000"
                " DIV SUM(n) AS BIGINT)"
            ).alias("coverage_ppm"),
            F.sum((F.col("rk") > F.col("vocab_size")).cast("int"))
            .cast("bigint")
            .alias("oov_types"),
        )
        .orderBy("vocab_size")
    )
