"""Factor-model extensions beyond the reference's explicit-ALS surface:
implicit-feedback training and related-items from the factor space.
Both queries train a model at build time and are rows-only in the driver
gate; tests/test_ml.py covers them with property tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .ratings import ratings_from_events


@query("ml_als_implicit_recs")  # iterative ALS → rows-only; pytest
def ml_als_implicit_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback ALS — the production rec-sys mode the reference
    lacks (it always has explicit stars; most real systems only see
    views/clicks). Interaction strength = per-(user, item) event count;
    ALS fits with implicitPrefs=True, so the model learns preference
    (did interact) weighted by confidence 1 + alpha·count instead of
    reconstructing the counts. Same seeded/nonnegative/coldStart=drop
    contract and the same cluster-side dictionary decode as the explicit
    path. Rows-only (iterative model); pytest pins rank shape, decode
    closure, and that a user's top rec is an item class they actually
    interact with."""
    from .recommender import AlsConfig, recommend_top_n, train

    strength = (
        ratings_from_events(spark, sf_dir)
        .groupBy("user_id", "item_id")
        .agg(F.count("*").cast("float").alias("rating"))
    )
    result = train(strength, AlsConfig(rank=8, max_iter=5, implicit=True, alpha=10.0))
    return recommend_top_n(result.model, n=3, user_dim=result.user_dim, item_dim=result.item_dim)


@query("ml_item_item_similarity")  # trained-model artifact → rows-only; pytest
def ml_item_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-items from the trained factor space: top-3 most-similar
    items per item by cosine over ALS item factors. The candidate join is
    SRP-CELL BLOCKED (the same coarse quantizer as the embedding near-dup
    path — similarity.srp_cell over the factor vectors), not all-pairs:
    at a 1e7-item catalog an exact item×item cosine is 1e14 pairs, while
    cell-blocked candidates stay ~N·(N/2^bits). Factors are model-sized
    (catalog rows × rank), so this composes the ML surface with the
    similarity infrastructure without touching corpus-scale data. Decode
    back to item ids via the cluster-side dictionary. Rows-only; pytest
    pins k≤3 per item, no self-pairs, cosine bounds, and decode closure."""
    from pyspark.sql import Window

    from ..functions.similarity import cosine, srp_cell
    from .recommender import AlsConfig, train

    ratings = ratings_from_events(spark, sf_dir)
    result = train(ratings, AlsConfig(rank=8, max_iter=5))
    als = result.model.stages[-1]
    fac = als.itemFactors.select(
        F.col("id").cast("double").alias("item_idx"), F.col("features").alias("fvec")
    )
    cells = fac.select("item_idx", "fvec", srp_cell(F.col("fvec")).alias("cell"))
    a = cells.alias("a")
    b = cells.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.item_idx") != F.col("b.item_idx")),
    ).select(
        F.col("a.item_idx").alias("item_idx"),
        F.col("b.item_idx").alias("other_idx"),
        cosine(F.col("a.fvec"), F.col("b.fvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("item_idx").orderBy(F.col("cos_sim").desc(), "other_idx")
    top = pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    items = result.item_dim
    other = items.select(
        F.col("item_id").alias("similar_item_id"), F.col("item_idx").alias("other_idx")
    )
    return (
        top.join(F.broadcast(items), "item_idx")
        .join(F.broadcast(other), "other_idx")
        .select("item_id", "similar_item_id", F.col("rn").alias("rank"), "cos_sim")
    )
