"""Registry entries for the ML surface: SQL-expressible rating analytics
(with DuckDB oracles) and the ALS pipeline itself (rows-only — iterative
least squares is not SQL)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import exact_avg, query, sql_exact_avg
from .ratings import SQL_RATINGS, ratings_from_events


@query(
    "ml_rating_stats",
    oracle=f"""
    WITH r AS ({SQL_RATINGS})
    SELECT COUNT(*) AS n_ratings,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT item_id) AS n_items,
           {sql_exact_avg('rating', 'avg_rating')}
    FROM r
    """,
)
def ml_rating_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training diagnostics in ONE pass (the reference runs four separate
    jobs: count, 2× distinct().count(), groupBy().count().show() —
    utils/recommender.py:90-97). Also proves the ratings derivation
    (JSON extract + arithmetic) matches SQL exactly."""
    return ratings_from_events(spark, sf_dir).agg(
        F.count("*").alias("n_ratings"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("item_id").alias("n_items"),
        exact_avg(F.col("rating").cast("double"), "avg_rating"),
    )


@query(
    "ml_user_unlock_gate",
    oracle=f"""
    WITH r AS ({SQL_RATINGS})
    SELECT user_id, COUNT(*) AS n_ratings,
           COUNT(*) >= 10 AS recs_unlocked
    FROM r GROUP BY user_id
    """,
)
def ml_user_unlock_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rating counts with the ≥10 recommendations-unlock gate
    (app.py:403-406), computed set-wide instead of per-logged-in-user."""
    return (
        ratings_from_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_ratings"))
        .select("user_id", "n_ratings", (F.col("n_ratings") >= 10).alias("recs_unlocked"))
    )


@query(
    "ml_latest_rating_dedup",
    oracle=f"""
    WITH r AS ({SQL_RATINGS})
    SELECT user_id, item_id, rating, rated_at
    FROM r
    QUALIFY row_number() OVER (PARTITION BY user_id, item_id
                               ORDER BY rated_at DESC, rating) = 1
    """,
)
def ml_latest_rating_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-rating-per-(user,item) dedup view (SURVEY.md §2.12): the sane
    default over the reference's append-duplicates semantics."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "item_id").orderBy(
        F.col("rated_at").desc(), F.col("rating")
    )
    return (
        ratings_from_events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "ml_dict_encode_items",
    oracle=f"""
    WITH r AS ({SQL_RATINGS}),
         c AS (SELECT item_id, COUNT(*) AS n_rows FROM r GROUP BY item_id)
    SELECT item_id, n_rows,
           CAST(row_number() OVER (ORDER BY n_rows DESC, item_id) - 1 AS DOUBLE)
             AS item_idx
    FROM c
    """,
)
def ml_dict_encode_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 at scale: the cluster-side label dictionary
    (recommender.dict_from_column) — contiguous frequency-desc rank with
    value-asc tie-break, i.e. exactly StringIndexer's 'frequencyDesc'
    assignment, built with two-phase ranking (range repartition +
    per-partition row_number + offset join) so no single-partition window
    and no driver-held label array. The oracle is the plain SQL window —
    same dictionary, proving the distributed rank is exact."""
    from .recommender import dict_from_column

    return dict_from_column(ratings_from_events(spark, sf_dir), "item_id", "item_idx")


#: Deterministic uniform in [0,1): Knuth multiplicative hash of the row key
#: modulo a prime — identical integer arithmetic in Spark and DuckDB, so the
#: synthesized workload is reproducible AND oracle-checkable (the reference
#: uses driver-side random.choices, unreproducible and single-threaded —
#: utils/imb_rating.py:99-129).
_SYNTH_PRIME = 1_000_003


def _sql_u(key: str) -> str:
    # reduce the key mod p BEFORE multiplying: the product stays < 2^51,
    # so the arithmetic is overflow-free in 64-bit at any corpus scale
    # (a raw key*constant overflows long past ~3.5e9 rows)
    return f"((({key} % {_SYNTH_PRIME}) * 2654435761) % {_SYNTH_PRIME}) * 1.0 / {_SYNTH_PRIME}"


@query(
    "ml_synthetic_weighted_ratings",
    oracle=f"""
    SELECT o_custkey AS user_id, o_orderkey AS item_key,
           CAST(CASE
             WHEN o_totalprice >= 300000 THEN
               CASE WHEN {_sql_u('o_orderkey')} < 0.10 THEN 3
                    WHEN {_sql_u('o_orderkey')} < 0.50 THEN 4 ELSE 5 END
             WHEN o_totalprice >= 150000 THEN
               CASE WHEN {_sql_u('o_orderkey')} < 0.05 THEN 2
                    WHEN {_sql_u('o_orderkey')} < 0.40 THEN 3
                    WHEN {_sql_u('o_orderkey')} < 0.85 THEN 4 ELSE 5 END
             WHEN o_totalprice >= 50000 THEN
               CASE WHEN {_sql_u('o_orderkey')} < 0.05 THEN 1
                    WHEN {_sql_u('o_orderkey')} < 0.35 THEN 2
                    WHEN {_sql_u('o_orderkey')} < 0.75 THEN 3 ELSE 4 END
             ELSE
               CASE WHEN {_sql_u('o_orderkey')} < 0.40 THEN 1
                    WHEN {_sql_u('o_orderkey')} < 0.80 THEN 2 ELSE 3 END
           END AS FLOAT) AS synth_rating
    FROM orders
    """,
)
def ml_synthetic_weighted_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 distributed: the reference's persona-weighted synthetic-rating
    generator (utils/imb_rating.py:114-124 — quality band → weighted
    random.choices, executed row-by-row on the driver) as a pure column
    expression: a multiplicative-hash uniform per row drives the same
    cumulative-weight thresholds, banded by a quality proxy
    (o_totalprice stands in for averageRating). Map-only, reproducible,
    and identical in any engine — the properties driver-side RNG can't
    give you at 100 TB."""
    from ..sources import tables

    u = (
        ((F.col("o_orderkey") % _SYNTH_PRIME) * F.lit(2654435761)) % _SYNTH_PRIME
    ).cast("double") / _SYNTH_PRIME

    def bands(*cuts):
        expr = F.lit(cuts[-1][1])
        for threshold, rating in reversed(cuts[:-1]):
            expr = F.when(u < threshold, rating).otherwise(expr)
        return expr

    quality = F.col("o_totalprice")
    rating = (
        F.when(quality >= 300000, bands((0.10, 3), (0.50, 4), (None, 5)))
        .when(quality >= 150000, bands((0.05, 2), (0.40, 3), (0.85, 4), (None, 5)))
        .when(quality >= 50000, bands((0.05, 1), (0.35, 2), (0.75, 3), (None, 4)))
        .otherwise(bands((0.40, 1), (0.80, 2), (None, 3)))
    )
    return tables(spark, sf_dir)["orders"].select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderkey").alias("item_key"),
        rating.cast("float").alias("synth_rating"),
    )


@query("ml_als_top_recs")  # iterative ALS is not SQL-expressible → rows-only
def ml_als_top_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ALS surface (M1-M10): derive ratings → index → ALS
    (seeded, nonnegative, coldStart=drop, one block per 4 MiB of ratings
    up to the core count) → top-3 per user → decode to original ids via
    TrainResult.user_dim/item_dim, the fitted indexers' own mapping as
    checkpointed DataFrames. Rows-only check; pytest asserts RMSE ceiling,
    rank shape, id decode closure, dictionary parity with StringIndexer,
    the block count, and save/load roundtrip."""
    from .recommender import AlsConfig, recommend_top_n, train

    ratings = ratings_from_events(spark, sf_dir)
    result = train(ratings, AlsConfig(rank=8, max_iter=5))
    return recommend_top_n(result.model, n=3, user_dim=result.user_dim, item_dim=result.item_dim)

