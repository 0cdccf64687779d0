"""Distributed topic modeling over ``documents`` (round 6): MLlib LDA —
the corpus-structure upgrade of the per-document text statistics family
(tf·idf salience says which terms mark a document; topics say which term
GROUPS co-occur corpus-wide). The reference has no counterpart (its only
latent-factor model is ALS on ratings, ``utils/recommender.py:73-80``);
this is SURVEY.md §2.13 extension surface.

Scale notes: ``pyspark.ml.clustering.LDA`` with the default online
variational optimizer (Hoffman et al., NIPS 2010) processes the corpus
in mini-batches with bounded driver state (the k×vocab topic matrix);
the EM optimizer's state is the same matrix replicated per partition.
Driver-side state here is the CountVectorizer vocabulary — explicitly
bounded by vocabSize, the same bounded-collect contract as the BPE merge
table. Token→count featurization is map-only; nothing collects
data-proportional state.

Rows-only by design: variational/EM inference involves float reductions
whose partial-aggregation order is engine-private, so no cross-engine
SQL oracle can replay the weights. The pytest invariants pin the
structural contract instead (topic/rank coverage, in-vocabulary terms,
positive descending weights).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..registry import query
from ..sources import tables
from ..sources.sinks import rows_frame

_K = 5
_VOCAB_SIZE = 200
_TOP_TERMS = 10
_SEED = 42


@query("x_lda_topics")  # iterative float inference — rows-only by design
def x_lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit LDA (k=5, seed fixed) on whitespace-tokenized documents and
    emit the top-10 terms per topic as (topic, rank, term, weight) rows
    — the corpus topic summary a curation pipeline uses for domain
    mixing/balance audits. Term decoding joins a broadcast (term_id,
    term) relation derived from the fitted vocabulary — no Python UDF,
    mirroring the ALS index→ID decode discipline (ml/recommender.py)."""
    docs = tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), " ").alias("toks")
    )

    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizer

    cvm = CountVectorizer(
        inputCol="toks", outputCol="features", vocabSize=_VOCAB_SIZE
    ).fit(toks)
    vec = cvm.transform(toks)
    model = LDA(k=_K, maxIter=10, seed=_SEED).fit(vec)

    topics = model.describeTopics(_TOP_TERMS)
    vocab_df = F.broadcast(
        rows_frame(
            spark,
            list(enumerate(cvm.vocabulary)),
            StructType.fromDDL("term_id int, term string"),
        )
    )
    return (
        topics.select(
            "topic",
            F.posexplode(
                F.arrays_zip("termIndices", "termWeights")
            ).alias("rank", "tw"),
        )
        .select(
            "topic",
            F.col("rank").cast("int").alias("rank"),
            F.col("tw.termIndices").cast("int").alias("term_id"),
            F.col("tw.termWeights").alias("weight"),
        )
        .join(vocab_df, "term_id")
        .select("topic", "rank", "term", "weight")
        .orderBy("topic", "rank")
    )
