"""ALS recommender pipeline — the reference's core capability
(utils/recommender.py:19-241), rebuilt Spark-first.

Differences from the reference, each a deliberate scale fix:
- ``ratings.cache()`` before iterative fitting (the reference re-scans JDBC
  on every CV fold — SURVEY.md §4 'Caching').
- Index→ID decode is a broadcast JOIN against the indexer's label
  dictionary instead of the reference's two Python closure UDFs
  (utils/recommender.py:164-174) — no JVM→Python round trip per row (M10).
  ``train`` builds those dictionaries by applying each fitted StringIndexer
  to the distinct values of the train split: the mapping is the indexer's
  own, and the dictionary is a checkpointed DataFrame.
- ALS block counts follow the data: one user and one item block per
  4 MiB of the ratings' planned size, capped at ``defaultParallelism``
  (:func:`_als_blocks`), instead of ALS's fixed 10×10.
- One session, parquet persistence, no JDBC staging.

Kept semantics: explicit-feedback ALS, ``nonnegative=True``,
``coldStartStrategy="drop"`` (utils/recommender.py:73-80), 80/20 split with
seed=42 (``:104``), 3-fold CV on RMSE (``:112-123``), top-N per user
(``:145-150``), pipeline save/load (``:136``).

Scale notes: ALS itself is the shuffle-heavy phase (user/item factor
exchanges per iteration). The levers at 100 TB are rank (factor matrix
width), ``als.rank``·users/items memory, checkpointing every ~10 iterations
(lineage truncation), and blocked factors (ALS's native storage, one
block per 4 MiB of ratings up to the core count) — all inside pyspark.ml;
nothing custom required.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import StringIndexer
from pyspark.ml.recommendation import ALS, ALSModel
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..operators.ranking import with_global_row_number
from ..sources.sinks import rows_frame


@dataclass
class AlsConfig:
    """Hyperparameters. The reference pins rank=200/maxIter=40/reg=0.4
    (utils/recommender.py:106-110) for the full IMDb dump; fixture-scale
    defaults are smaller so CV stays interactive."""

    rank: int = 8
    max_iter: int = 8
    reg_param: float = 0.1
    seed: int = 42
    nonnegative: bool = True
    cold_start: str = "drop"
    cv_reg_grid: tuple[float, ...] = (0.05, 0.1)
    cv_folds: int = 3
    #: Implicit-feedback mode (Hu/Koren/Volinsky 2008): ``rating`` is an
    #: interaction STRENGTH (e.g. event count), preference is its sign and
    #: confidence grows as 1 + alpha·strength. The production rec-sys
    #: setting when no explicit stars exist — the reference only has the
    #: explicit path (utils/recommender.py:73-80).
    implicit: bool = False
    alpha: float = 10.0


@dataclass
class TrainResult:
    model: PipelineModel
    rmse: float
    n_train: int
    n_test: int
    metrics: dict = field(default_factory=dict)
    #: ``(id, idx)`` label dictionaries of the fitted StringIndexers over
    #: the TRAIN split, as checkpointed DataFrames (:func:`_indexer_dim`):
    #: exactly ``{label: float(i)}`` of the indexer's ``labels``. The
    #: decode path of :func:`recommend_top_n`.
    user_dim: DataFrame | None = None
    item_dim: DataFrame | None = None


def build_pipeline(cfg: AlsConfig) -> Pipeline:
    """StringIndexer(user) + StringIndexer(item) + ALS — the reference's
    pipeline shape (utils/recommender.py:64-84), handleInvalid='skip'."""
    user_idx = StringIndexer(
        inputCol="user_id", outputCol="user_idx", handleInvalid="skip"
    )
    item_idx = StringIndexer(
        inputCol="item_id", outputCol="item_idx", handleInvalid="skip"
    )
    als = ALS(
        userCol="user_idx",
        itemCol="item_idx",
        ratingCol="rating",
        rank=cfg.rank,
        maxIter=cfg.max_iter,
        regParam=cfg.reg_param,
        seed=cfg.seed,
        nonnegative=cfg.nonnegative,
        coldStartStrategy=cfg.cold_start,
        implicitPrefs=cfg.implicit,
        alpha=cfg.alpha,
    )
    return Pipeline(stages=[user_idx, item_idx, als])


#: Ratings bytes per ALS block: Spark's default
#: ``spark.sql.files.openCostInBytes``, the smallest split its file scan
#: makes, so a ratings table gets as many blocks as Spark would split it
#: into were it one file, up to the core count.
_ALS_BLOCK_BYTES = 4 << 20


def train(ratings: DataFrame, cfg: AlsConfig | None = None, cross_validate: bool = False) -> TrainResult:
    """80/20 seeded split → fit (optionally 3-fold CV) → held-out RMSE.
    Mirrors utils/recommender.py:87-143 with caching added. ALS runs with
    :func:`_als_blocks` user and item blocks, and the label dictionaries
    come from the fitted indexers (:func:`_indexer_dim`), built while the
    ratings are still cached. The cache is released even when a fit or
    evaluation raises."""
    cfg = cfg or AlsConfig()
    ratings = ratings.select("user_id", "item_id", "rating").cache()
    try:
        train_df, test_df = ratings.randomSplit([0.8, 0.2], seed=cfg.seed)

        pipeline = build_pipeline(cfg)
        als = pipeline.getStages()[-1]
        blocks = _als_blocks(ratings)
        als.setNumUserBlocks(blocks).setNumItemBlocks(blocks)
        evaluator = RegressionEvaluator(
            metricName="rmse", labelCol="rating", predictionCol="prediction"
        )

        if cross_validate:
            grid = ParamGridBuilder().addGrid(als.regParam, list(cfg.cv_reg_grid)).build()
            cv = CrossValidator(
                estimator=pipeline,
                estimatorParamMaps=grid,
                evaluator=evaluator,
                numFolds=cfg.cv_folds,
                seed=cfg.seed,
                parallelism=2,
            )
            model = cv.fit(train_df).bestModel
        else:
            model = pipeline.fit(train_df)

        predictions = model.transform(test_df)
        return TrainResult(
            model=model,
            rmse=float(evaluator.evaluate(predictions)),
            n_train=train_df.count(),
            n_test=test_df.count(),
            metrics={"rank": cfg.rank, "max_iter": cfg.max_iter},
            user_dim=_indexer_dim(model, 0, train_df, "user_id", "user_idx"),
            item_dim=_indexer_dim(model, 1, train_df, "item_id", "item_idx"),
        )
    finally:
        ratings.unpersist()


def _als_blocks(ratings: DataFrame) -> int:
    """ALS user/item block count for ``ratings``: one block per
    :data:`_ALS_BLOCK_BYTES` of the optimizer's size estimate, at most
    ``defaultParallelism`` and at least 1. For a file scan the estimate is
    the files' bytes, scaled to the selected columns, so it follows the
    data, not the file count: each small file a one-row append adds costs
    only its parquet footer, so appends and compactions move the block
    count only across a 4 MiB boundary. Small inputs get one block (ALS's
    default of 10 would run 10×10 tiny tasks per factor update), large
    ones spread over every core; a frame Spark cannot size (an RDD-backed
    one) gets the cap. Reading the estimate runs no job."""
    parallelism = ratings.sparkSession.sparkContext.defaultParallelism
    size = int(ratings._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return max(1, min(-(-size // _ALS_BLOCK_BYTES), parallelism))


def _indexer_dim(model: PipelineModel, stage: int, df: DataFrame, col: str, idx_col: str) -> DataFrame:
    """``(col, idx_col)`` dictionary of the fitted StringIndexer at
    ``stage``: the indexer applied to the distinct values of ``df`` (the
    split it was fitted on), so the mapping is the indexer's own, exact by
    construction. Checkpointed eagerly, so it outlives ``df``'s cache."""
    return (
        model.stages[stage]
        .transform(df.select(col).distinct())
        .select(col, idx_col)
        .localCheckpoint(eager=True)
    )


def _label_dim(spark_df_model: PipelineModel, stage: int, id_col: str, idx_col: str) -> DataFrame:
    """Indexer labels → tiny (index, id) dimension for broadcast decode.
    Replaces the reference's per-row Python UDF lookups
    (utils/recommender.py:164-174, M10).

    The fallback decode of :func:`recommend_top_n` when no dictionaries
    are passed, kept for reference parity. It ships ``.labels`` back
    through the driver as a local list (read by the JVM through Arrow,
    :func:`sources.sinks.rows_frame`); :func:`train` already returns the
    same dictionaries as DataFrames (:func:`_indexer_dim`), which is the
    path to use."""
    labels = spark_df_model.stages[stage].labels
    schema = StructType([StructField(idx_col, DoubleType()), StructField(id_col, StringType())])
    return rows_frame(SparkSession_active(), [(float(i), v) for i, v in enumerate(labels)], schema)


def dict_from_column(df: DataFrame, col: str, idx_col: str) -> DataFrame:
    """Cluster-side label dictionary: ``(col, n_rows, idx_col)`` with the
    contiguous frequency-desc rank StringIndexer assigns (ties broken by
    value ascending — StringIndexer's 'frequencyDesc' order), built WITHOUT
    fitting an indexer and without collecting labels to the driver. It
    serves ``ml_dict_encode_items``; :func:`train` does not use it, since it
    fits the indexers anyway and takes their mapping (:func:`_indexer_dim`)
    instead of recomputing it here at about four jobs per dictionary.

    The rank is :func:`operators.ranking.with_global_row_number` over the
    distinct-value counts (a distributed two-phase rank, not the
    single-partition ``Window.orderBy`` trap). Driver state is
    O(#partitions), never O(#labels) — this is what survives a 1e9-item
    dictionary where ``StringIndexerModel.labels`` OOMs the driver. The
    dictionary comes back checkpointed, freed when the caller drops it.
    """
    counts = df.groupBy(col).agg(F.count("*").alias("n_rows"))
    # Tie-break on the STRINGIFIED value: StringIndexer sorts its label
    # strings, so numeric columns order '10' < '2' there — the cast keeps
    # parity for any input type (no-op for string columns).
    tie = F.col(col).cast("string").asc()
    ranked, _ = with_global_row_number(counts, [F.col("n_rows").desc(), tie], alias="_rn")
    return ranked.select(col, "n_rows", (F.col("_rn") - 1).cast("double").alias(idx_col))


def SparkSession_active():
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()


def recommend_top_n(
    model: PipelineModel,
    n: int = 10,
    user_dim: DataFrame | None = None,
    item_dim: DataFrame | None = None,
) -> DataFrame:
    """Top-N per user, decoded back to original string ids
    (utils/recommender.py:145-182): recommendForAllUsers → explode the
    array<struct> → join the label dictionaries.

    Decode path: pass ``user_dim``/``item_dim`` (TrainResult carries them,
    the fitted indexers' own mapping as checkpointed DataFrames, see
    :func:`_indexer_dim`) and the decode is a join against them. Without
    dims it falls back to shipping the StringIndexer ``.labels`` list
    through the driver (:func:`_label_dim`; reference parity)."""
    als: ALSModel = model.stages[-1]
    recs = als.recommendForAllUsers(n)

    exploded = recs.select(
        F.col("user_idx").cast("double").alias("user_idx"),
        F.posexplode("recommendations").alias("pos", "rec"),
    ).select(
        "user_idx",
        (F.col("pos") + 1).alias("rank"),
        F.col("rec.item_idx").cast("double").alias("item_idx"),
        F.col("rec.rating").alias("predicted_rating"),
    )

    users = (
        user_dim.select("user_id", "user_idx")
        if user_dim is not None
        else _label_dim(model, 0, "user_id", "user_idx")
    )
    items = (
        item_dim.select("item_id", "item_idx")
        if item_dim is not None
        else _label_dim(model, 1, "item_id", "item_idx")
    )
    # Dictionaries are broadcast when small; at scale drop the hint and the
    # decode becomes a shuffle join on the idx key (AQE picks broadcast
    # automatically under the threshold anyway).
    return (
        exploded.join(F.broadcast(users), "user_idx")
        .join(F.broadcast(items), "item_idx")
        .select("user_id", "item_id", "rank", "predicted_rating")
    )


def save_model(model: PipelineModel, path: str) -> None:
    """S9: pipeline persistence (utils/recommender.py:136)."""
    model.write().overwrite().save(path)


def load_model(path: str) -> PipelineModel:
    return PipelineModel.load(path)
