"""Distributed BPE tokenizer training (SURVEY.md §2.13 round-3): learn
byte-pair-encoding merges over the corpus word-frequency table, then
encode with the learned merges — the tokenizer-construction step of an
LLM data pipeline (Sennrich et al. 2016 shape).

Scale architecture: BPE trains on the WORD-TYPE table (word, count) —
millions of rows at 100 TB corpus scale, not trillions (the corpus
collapses through one hash aggregate first). Each merge iteration is:
(1) one distributed aggregate — adjacent-symbol-pair counts weighted by
word frequency (map-side explode of ≤|word| pairs per type, uniform
keys); (2) ONE ROW collected to the driver (the arg-max pair — bounded
driver state, same contract as k-means centroids); (3) a map-only fold
rewriting each word's symbol array. The learned merge table is K rows.
Iterations are sequential by nature (each merge changes the pair
distribution); K bounds the loop.

Determinism: the winning pair is max by (count, left, right) — total
order, no RNG anywhere; the left-to-right non-overlapping merge fold is
the reference greedy semantics ("aaa" + merge(a,a) → ["aa","a"]).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..registry import query
from ..sources import tables
from ..sources.sinks import rows_frame

#: End-of-word sentinel (kept out of the corpus alphabet by construction).
_EOW = "</w>"

#: Number of merges to learn.
_BPE_MERGES = 12


def word_table(docs: DataFrame) -> DataFrame:
    """(word, count) word-type table with initial symbol sequences:
    characters + end-of-word marker."""
    words = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .select(
            "word",
            "cnt",
            F.concat(
                F.split(F.col("word"), ""), F.array(F.lit(_EOW))
            ).alias("syms"),
        )
    )


def _pair_counts(wt: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word frequency — the per-iteration
    distributed aggregate. Fully-merged words (ONE symbol left — e.g. a
    frequent 1-char word after its (c, EOW) merge wins) are filtered
    before the window explode: F.sequence(0, size-2) DESCENDS to [0, -1]
    when size is 1 and element_at(syms, 2) then faults — latent until the
    r12 scale rehearsal's rotated replica shifted the merge order
    (the DuckDB oracle's range(1, len) is empty there, so the filter
    also keeps the two engines' pair sets identical)."""
    pairs = wt.where(F.size("syms") >= 2).select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("syms") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i + 1).alias("l"),
                    F.element_at(F.col("syms"), i + 2).alias("r"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r")).agg(
        F.sum("cnt").alias("pair_count")
    )


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Left-to-right non-overlapping merge of (left, right) → left+right,
    as a single array fold (map-only, codegen)."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left)
            & (s == right),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


#: Per-(session, sf_dir) memo of the learned merge table (the
#: cached_scc_assignment pattern): x_bpe_train and x_bpe_encode both
#: train the identical 12-merge tokenizer — the first consumer in a
#: sweep pays the driver-looped training reproducibly, the second reads
#: the list. In-session only, never a disk artifact (cold/warm-lottery
#: rule). Keyed also on n_merges so a custom caller never collides.
_BPE_MERGES_MEMO: dict[tuple[str, str, int], list[tuple[str, str, int]]] = {}


def cached_bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = _BPE_MERGES
) -> list[tuple[str, str, int]]:
    """Train-once accessor for the fixture corpus tokenizer."""
    import os

    from ..memo import session_memo

    return session_memo(
        _BPE_MERGES_MEMO,
        spark,
        (os.path.normpath(sf_dir), n_merges),
        lambda: bpe_train(tables(spark, sf_dir)["documents"], n_merges),
    )


def bpe_train(docs: DataFrame, n_merges: int = _BPE_MERGES) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` merges; returns [(left, right, count), …]
    in learning order. Stops early when no pair repeats (count < 2).

    The word-type table is checkpointed EVERY iteration, not every 8:
    without it, iteration k's pair-count collect lazily re-scans the
    corpus and re-applies all k stacked folds — O(K²) fold work and K
    corpus scans across training. Measured at sf0.1 (r12): 51–63 s →
    2.9–3.5 s for the same 12 merges. The table is word TYPES (orders
    of magnitude smaller than the corpus), so the per-iteration
    materialization is the cheap side of that trade at every scale."""
    wt = word_table(docs).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (
            _pair_counts(wt)
            .orderBy(F.col("pair_count").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best or best[0].pair_count < 2:
            break
        l, r, c = best[0].l, best[0].r, int(best[0].pair_count)
        merges.append((l, r, c))
        wt = wt.select(
            "word", "cnt", _apply_merge(F.col("syms"), l, r).alias("syms")
        ).localCheckpoint(eager=True)
    return merges


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """Apply learned merges in order to every word occurrence: map-only
    stacked folds (the learned table is a plan constant — broadcast-free)."""
    wt = word_table(docs).select("word", "cnt", "syms")
    syms = F.col("syms")
    for l, r, _ in merges:
        syms = _apply_merge(syms, l, r)
    return wt.select("word", "cnt", syms.alias("syms"))


def _bpe_cte_parts(n_merges: int = _BPE_MERGES) -> list[str]:
    """The shared UNROLLED training chain (wt0 → wt{{n}}, best/merge CTEs)
    used by both the trainer's and the encoder's oracles. The greedy
    left-to-right non-overlapping merge fold is expressed with
    ``list_reduce`` over a separator-joined string accumulator (chr(30)
    cannot occur in corpus tokens), which replicates Spark's array fold
    exactly — including the "aaa" + merge(a,a) → ["aa","a"] case,
    because a just-merged tail token no longer equals the left symbol.
    Early stop (best pair count < 2) is handled structurally: an empty
    best CTE makes every later step a no-op LEFT JOIN. CTEs are
    MATERIALIZED — default inlining re-evaluates the chain exponentially
    (2^n_merges)."""
    sep = "chr(30)"
    parts = [
        "w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)",
        f"""wt0 AS MATERIALIZED (
          SELECT word, COUNT(*) AS cnt,
                 list_append(string_split(word, ''), '{_EOW}') AS syms
          FROM w WHERE word <> '' GROUP BY word
        )""",
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(f"""pc{i} AS (
          SELECT syms[j] AS l, syms[j+1] AS r,
                 CAST(SUM(cnt) AS BIGINT) AS pair_count
          FROM wt{p}, LATERAL (SELECT unnest(range(1, len(syms))) AS j) t
          GROUP BY l, r
        )""")
        parts.append(f"""best{i} AS MATERIALIZED (
          SELECT l, r, pair_count FROM pc{i}
          WHERE pair_count >= 2
          ORDER BY pair_count DESC, l, r LIMIT 1
        )""")
        parts.append(f"""wt{i} AS MATERIALIZED (
          SELECT word, cnt,
                 CASE WHEN b.l IS NULL THEN syms
                      ELSE string_split(
                             list_reduce(syms, (acc, s) -> CASE
                               WHEN (acc = b.l OR ends_with(acc, {sep} || b.l))
                                    AND s = b.r
                               THEN substr(acc, 1, len(acc) - len(b.l))
                                      || b.l || b.r
                               ELSE acc || {sep} || s END),
                             {sep})
                 END AS syms
          FROM wt{p} LEFT JOIN best{i} b ON TRUE
        )""")
        parts.append(
            f"m{i} AS (SELECT {i} AS step, l, r, l || r AS merged, pair_count"
            f" FROM best{i})"
        )
    return parts


def _sql_bpe_train(n_merges: int = _BPE_MERGES) -> str:
    """DuckDB replica of the BPE trainer (chain from
    :func:`_bpe_cte_parts`, same scheme as the k-means/PQ oracles)."""
    parts = _bpe_cte_parts(n_merges)
    union = " UNION ALL ".join(f"SELECT * FROM m{i}" for i in range(1, n_merges + 1))
    parts.append(f"merges AS ({union})")
    parts.append(
        f"stats AS (SELECT SUM(len(syms) * cnt) / SUM(cnt) AS a FROM wt{n_merges})"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
    SELECT CAST(step AS INT) AS step, l AS "left", r AS "right", merged,
           pair_count, (SELECT a FROM stats) AS avg_syms_per_word
    FROM merges ORDER BY step
    """
    )


@query("x_bpe_train", oracle=_sql_bpe_train())
def x_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge learning over the corpus: the merge table (step, left,
    right, merged, pair_count) plus the resulting encoding compression —
    avg symbols per word occurrence after all merges.

    Full oracle since r4 (was rows-only): every iteration's arg-max is a
    total order and the merge fold is engine-portable, so the oracle
    unrolls the whole training loop in SQL — the driver hash-gates the
    LEARNED MERGE TABLE and the final compression ratio. The pytest
    suite additionally replays the identical greedy algorithm in pure
    Python on the collected word table and asserts the merge sequence
    and encoded symbol counts match exactly."""
    docs = tables(spark, sf_dir)["documents"]
    merges = cached_bpe_merges(spark, sf_dir)
    enc = bpe_encode(docs, merges)
    stats = enc.agg(
        (
            F.sum(F.size("syms").cast("bigint") * F.col("cnt"))
            / F.sum(F.col("cnt"))
        ).alias("avg_syms_per_word")
    ).collect()[0]
    rows = [
        (i + 1, l, r, l + r, c, float(stats.avg_syms_per_word))
        for i, (l, r, c) in enumerate(merges)
    ]
    return rows_frame(
        spark,
        rows,
        StructType.fromDDL(
            "step int, left string, right string, merged string, "
            "pair_count bigint, avg_syms_per_word double"
        ),
    )


def _sql_bpe_encode(n_merges: int = _BPE_MERGES) -> str:
    """DuckDB replica of the per-document encode: the SAME unrolled
    training chain, then every word occurrence joined to its final
    symbol sequence and rolled up per document."""
    parts = _bpe_cte_parts(n_merges)
    parts.append(
        """dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents)"""
    )
    parts.append(
        f"""wh AS (
          SELECT word, len(syms) AS nt,
                 ('0x' || substr(md5(word || ':' ||
                                     array_to_string(syms, chr(31))), 1, 12)
                 )::BIGINT AS h
          FROM wt{n_merges}
        )"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(h) AS BIGINT) AS stream_checksum
    FROM dw JOIN wh USING (word)
    WHERE word <> ''
    GROUP BY doc_id
    ORDER BY doc_id
    """
    )


@query("x_bpe_encode", oracle=_sql_bpe_encode())
def x_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained BPE merges — the production
    artifact the trainer exists FOR: per document, the word count, the
    encoded TOKEN count, and an order-independent checksum of the
    (word → final symbol sequence) stream (48-bit md5 fragments summed
    in bigint — duplicates count, ordering cannot matter, no overflow
    below ~30k words/doc · 2^48). The oracle replays training AND
    encoding, so a drifted merge table, a wrong fold, or a lost word
    all hash-mismatch at the per-document grain x_bpe_train's global
    compression ratio cannot see.

    Scale: encoding is a map-only stacked fold over the word-TYPE table
    (K merges deep, codegen), then one occurrences⋈types equi-join —
    the type table is orders of magnitude smaller than the corpus
    (broadcast at fixture scale, co-keyed shuffle at 100 TB) — and one
    doc-keyed aggregate. Nothing iterative touches per-occurrence
    rows."""
    docs = tables(spark, sf_dir)["documents"]
    merges = cached_bpe_merges(spark, sf_dir)
    enc = bpe_encode(docs, merges)
    wh = enc.select(
        "word",
        F.size("syms").cast("long").alias("nt"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("word"),
                        F.lit(":"),
                        F.concat_ws(chr(31), F.col("syms")),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        words.join(wh, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.sum("h").cast("long").alias("stream_checksum"),
        )
        .orderBy("doc_id")
    )


def _sql_bpe_fertility(n_merges: int = _BPE_MERGES) -> str:
    """DuckDB replica of the per-language fertility rollup: the same
    unrolled training chain as x_bpe_encode, aggregated by lang."""
    parts = _bpe_cte_parts(n_merges)
    parts.append(
        """dw AS (SELECT lang, unnest(string_split(text, ' ')) AS word
                 FROM documents)"""
    )
    parts.append(f"wh AS (SELECT word, len(syms) AS nt FROM wt{n_merges})")
    parts.append("dl AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1)")
    parts.append(
        """g AS (
          SELECT lang,
                 CAST(COUNT(*) AS BIGINT) AS n_words,
                 CAST(SUM(nt) AS BIGINT) AS n_tokens,
                 CAST(SUM(length(word)) AS BIGINT) AS n_chars
          FROM dw JOIN wh USING (word)
          WHERE word <> ''
          GROUP BY lang
        )"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
    SELECT g.lang, CAST(dl.n_docs AS BIGINT) AS n_docs,
           g.n_words, g.n_tokens, g.n_chars,
           CAST(g.n_tokens * 1000000 // g.n_words AS BIGINT)
             AS fertility_ppm,
           CAST(g.n_chars * 1000000 // g.n_tokens AS BIGINT)
             AS chars_per_token_ppm
    FROM g JOIN dl USING (lang)
    ORDER BY g.lang
    """
    )


@query("x_bpe_fertility", oracle=_sql_bpe_fertility())
def x_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — tokens emitted per whitespace
    word (ppm) and characters per token (ppm) under the trained BPE
    merges: the metric that tells a multilingual pipeline which
    languages the shared tokenizer penalizes (high fertility = more
    tokens per word = fewer effective context words and higher training
    cost for that slice — the standard argument for revisiting merge
    budgets or vocab allocation). Complements x_bpe_encode (per-document
    grain) and x_vocab_coverage (OOV rates) with the per-LANGUAGE cost
    profile.

    All integer: token/word/char sums are exact, ratios are fixed-point
    ppm via DIV (non-negative operands). The oracle replays training +
    encoding per the x_bpe_encode scheme and aggregates by lang.

    Scale: the merge fold runs on the word-TYPE table (shared
    :func:`cached_bpe_merges` memo — the sweep trains once); the
    occurrences⋈types join is the x_bpe_encode shape; the rollup is a
    5-group aggregate with map-side partials.

    Reference contrast: no tokenizer surface in the reference; extends
    §2.13's tokenizer family (train r10, encode r12, vocab-coverage r9)
    with the per-language cost face."""
    docs = tables(spark, sf_dir)["documents"]
    merges = cached_bpe_merges(spark, sf_dir)
    enc = bpe_encode(docs, merges)
    wh = enc.select("word", F.size("syms").cast("long").alias("nt"))
    words = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    g = (
        words.join(wh, "word")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
        )
    )
    dl = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    return (
        dl.join(g, "lang")
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_tokens",
            "n_chars",
            F.expr("n_tokens * 1000000 DIV n_words").alias("fertility_ppm"),
            F.expr("n_chars * 1000000 DIV n_tokens").alias(
                "chars_per_token_ppm"
            ),
        )
        .orderBy("lang")
    )
