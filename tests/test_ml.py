"""ALS pipeline property tests (SURVEY.md §5: ML operators get property
assertions, not SQL oracles): RMSE ceiling on seeded data, top-N shape,
decode closure, cold-start drop, save/load roundtrip, CV path."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from recommender_systems_pyspark_spark.ml.ratings import latest_ratings, ratings_from_events
from recommender_systems_pyspark_spark.ml.recommender import (
    AlsConfig,
    load_model,
    recommend_top_n,
    save_model,
    train,
)


@pytest.fixture(scope="module")
def trained(spark, sf_dir):
    ratings = ratings_from_events(spark, sf_dir)
    return train(ratings, AlsConfig(rank=8, max_iter=5)), ratings


def test_rmse_within_bound(trained):
    result, _ = trained
    # ratings span [1,5); a constant-mean predictor sits near the
    # distribution std (~1.15). The factorization must not be (much) worse.
    assert 0.0 < result.rmse < 2.0, result.rmse
    assert result.n_train > 0 and result.n_test > 0


def test_top_n_shape_and_decode(spark, trained):
    result, ratings = trained
    recs = recommend_top_n(result.model, n=3)
    pdf = recs.toPandas()
    assert set(pdf.columns) == {"user_id", "item_id", "rank", "predicted_rating"}
    # ≤3 per user, ranks are 1..k contiguous
    per_user = pdf.groupby("user_id")["rank"].agg(["count", "min", "max"])
    assert (per_user["count"] <= 3).all()
    assert (per_user["min"] == 1).all()
    assert (per_user["max"] == per_user["count"]).all()
    # decoded ids are real ids from the input (no index leakage)
    users = {r.user_id for r in ratings.select("user_id").distinct().collect()}
    items = {r.item_id for r in ratings.select("item_id").distinct().collect()}
    assert set(pdf.user_id) <= users
    assert set(pdf.item_id) <= items


def test_save_load_roundtrip(spark, trained, sf_dir):
    result, _ = trained
    with tempfile.TemporaryDirectory() as d:
        save_model(result.model, f"{d}/als_model")
        reloaded = load_model(f"{d}/als_model")
        a = recommend_top_n(result.model, n=2).toPandas().sort_values(["user_id", "rank"])
        b = recommend_top_n(reloaded, n=2).toPandas().sort_values(["user_id", "rank"])
        assert (a.item_id.values == b.item_id.values).all()


def test_cold_start_drop_shrinks_not_errors(spark, sf_dir):
    # users/items only in the test fold are dropped, not NaN-scored
    ratings = ratings_from_events(spark, sf_dir)
    result = train(ratings, AlsConfig(rank=4, max_iter=3))
    preds = result.model.transform(
        ratings.limit(50).select("user_id", "item_id", "rating")
    )
    assert preds.where(F.isnan("prediction")).count() == 0


def test_cross_validation_path(spark, sf_dir):
    ratings = ratings_from_events(spark, sf_dir).limit(400)
    result = train(ratings, AlsConfig(rank=4, max_iter=3, cv_folds=2), cross_validate=True)
    assert result.rmse < 2.5


def test_latest_ratings_unique_pairs(spark, sf_dir):
    lr = latest_ratings(spark, sf_dir)
    assert lr.count() == lr.select("user_id", "item_id").distinct().count()


def test_dict_from_column_matches_stringindexer(spark, trained):
    """dict_from_column must reproduce StringIndexer's exact label→index
    assignment (frequencyDesc, value-asc tie-break) from the same data —
    the parity that lets the cluster-side dictionary replace driver-held
    .labels at scale."""
    from recommender_systems_pyspark_spark.ml.recommender import dict_from_column

    result, ratings = trained
    # rebuild the train split exactly as train() did (same seed)
    train_df, _ = ratings.select("user_id", "item_id", "rating").randomSplit(
        [0.8, 0.2], seed=42
    )
    for stage, col, idx in ((0, "user_id", "user_idx"), (1, "item_id", "item_idx")):
        labels = result.model.stages[stage].labels
        dim = dict_from_column(train_df, col, idx)
        got = {r[col]: r[idx] for r in dim.collect()}
        want = {v: float(i) for i, v in enumerate(labels)}
        assert got == want, f"dictionary mismatch for {col}"
        # contiguity: indices are exactly 0..n-1
        idxs = sorted(got.values())
        assert idxs == [float(i) for i in range(len(idxs))]


def test_train_dims_are_the_fitted_indexers_labels(trained):
    """TrainResult's dictionaries are the fitted StringIndexers' own
    mapping: one row per label, exactly {label: float(i)} over
    ``.labels``, so the indices are contiguous 0..n-1."""
    result, _ = trained
    for stage, dim, col, idx in (
        (0, result.user_dim, "user_id", "user_idx"),
        (1, result.item_dim, "item_id", "item_idx"),
    ):
        rows = dim.collect()
        got = {r[col]: r[idx] for r in rows}
        assert len(rows) == len(got), f"duplicate labels in the {col} dictionary"
        assert got == {v: float(i) for i, v in enumerate(result.model.stages[stage].labels)}


def test_als_blocks_follow_bytes_not_files(spark, sf_dir, tmp_path):
    """The same ratings as one file and as more files than cores (the
    shape one-row appends leave behind) get the same block count: one, at
    fixture size. ALS fits on the many-file table with one user and one
    item block, not one per file or per core."""
    from recommender_systems_pyspark_spark.ml.recommender import _als_blocks
    from recommender_systems_pyspark_spark.ml.users import RATING_SCHEMA

    n_files = spark.sparkContext.defaultParallelism + 2
    ratings = ratings_from_events(spark, sf_dir).withColumn(
        "rated_at", F.col("rated_at").cast("timestamp_ntz")
    )
    tables = {}
    for n in (1, n_files):
        path = str(tmp_path / f"ratings_{n}")
        ratings.repartition(n).write.parquet(path)
        tables[n] = spark.read.schema(RATING_SCHEMA).parquet(path)
    assert tables[n_files].rdd.getNumPartitions() > 1
    assert _als_blocks(tables[1]) == _als_blocks(tables[n_files]) == 1
    als = train(tables[n_files], AlsConfig(rank=4, max_iter=3)).model.stages[-1]
    assert als.userFactors.rdd.getNumPartitions() == 1
    assert als.itemFactors.rdd.getNumPartitions() == 1


def test_als_blocks_grow_with_the_size_estimate(spark):
    """One block per 4 MiB of the planned size, capped at the core count:
    a small frame gets one, a ~26 MB one several, a ~26 GB one the cap.
    The frames are only planned, never run."""
    import math

    from recommender_systems_pyspark_spark.ml.recommender import _ALS_BLOCK_BYTES, _als_blocks

    parallelism = spark.sparkContext.defaultParallelism
    got = {}
    for n in (10**5, 10**6, 10**9):
        df = spark.range(n).select(
            F.col("id").cast("string").alias("user_id"),
            (F.col("id") % 97).cast("string").alias("item_id"),
            F.lit(1.0).cast("float").alias("rating"),
        )
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        got[n] = _als_blocks(df)
        assert got[n] == max(1, min(math.ceil(size / _ALS_BLOCK_BYTES), parallelism))
    assert got[10**5] == 1 < got[10**6]
    assert got[10**9] == parallelism


def test_train_fits_als_with_the_block_count(spark, sf_dir, monkeypatch):
    """train() hands _als_blocks' count to ALS for both user and item
    blocks: the fitted factors are partitioned that way."""
    from recommender_systems_pyspark_spark.ml import recommender

    monkeypatch.setattr(recommender, "_als_blocks", lambda ratings: 3)
    als = train(ratings_from_events(spark, sf_dir), AlsConfig(rank=4, max_iter=3)).model.stages[-1]
    assert als.userFactors.rdd.getNumPartitions() == 3
    assert als.itemFactors.rdd.getNumPartitions() == 3


def test_als_block_lookup_runs_no_job(spark, sf_dir):
    """Reading the block count off the size estimate of the cached
    ratings costs no Spark job."""
    from recommender_systems_pyspark_spark.ml.recommender import _als_blocks

    sc = spark.sparkContext
    ratings = ratings_from_events(spark, sf_dir).select("user_id", "item_id", "rating").cache()
    try:
        sc.setJobGroup("als-block-lookup", "als block lookup")
        blocks = _als_blocks(ratings)
        jobs = sc.statusTracker().getJobIdsForGroup("als-block-lookup")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ratings.unpersist()
    assert blocks >= 1
    assert jobs == []


def test_train_releases_the_ratings_cache_when_fit_raises(spark, sf_dir):
    """A fit that raises must not leave train()'s ratings cache behind."""
    from pyspark.errors import IllegalArgumentException

    ratings = ratings_from_events(spark, sf_dir).withColumn("rating", F.lit("not a number"))
    with pytest.raises(IllegalArgumentException):
        train(ratings, AlsConfig(rank=4, max_iter=3))
    assert not ratings.select("user_id", "item_id", "rating").storageLevel.useMemory


def test_recommend_decode_via_cluster_dims(spark, trained):
    """The relational-dictionary decode path must produce the same decoded
    recommendations as the StringIndexer-labels fallback path."""
    result, _ = trained
    a = (
        recommend_top_n(result.model, n=2)  # driver-labels fallback
        .toPandas()
        .sort_values(["user_id", "rank"])
        .reset_index(drop=True)
    )
    b = (
        recommend_top_n(result.model, n=2, user_dim=result.user_dim, item_dim=result.item_dim)
        .toPandas()
        .sort_values(["user_id", "rank"])
        .reset_index(drop=True)
    )
    assert (a.user_id.values == b.user_id.values).all()
    assert (a.item_id.values == b.item_id.values).all()


def test_implicit_als_recs_shape_and_decode(spark, sf_dir):
    """Implicit-feedback mode: top-3 per user, decoded ids must close over
    the training vocabulary, and every user's recs are items the corpus
    actually contains (coldStart=drop guarantees no NaN rows)."""
    from recommender_systems_pyspark_spark.registry import all_queries

    rows = all_queries()["ml_als_implicit_recs"].fn(spark, sf_dir).collect()
    assert rows, "implicit ALS produced no recommendations"
    per_user: dict[str, list] = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    item_vocab = {
        r.item_id for r in ratings_from_events(spark, sf_dir).select("item_id").distinct().collect()
    }
    for user, recs in per_user.items():
        assert len(recs) <= 3
        assert sorted(r.rank for r in recs) == list(range(1, len(recs) + 1))
        assert all(r.item_id in item_vocab for r in recs)


def test_item_item_similarity_properties(spark, sf_dir):
    """Related-items: ≤3 per item, contiguous ranks, cosine within [-1, 1]
    and non-increasing down the ranks, never the item itself."""
    from recommender_systems_pyspark_spark.registry import all_queries

    rows = all_queries()["ml_item_item_similarity"].fn(spark, sf_dir).collect()
    assert rows, "no similar-item pairs produced"
    per_item: dict[str, list] = {}
    for r in rows:
        assert r.item_id != r.similar_item_id
        assert -1.0 - 1e-9 <= r.cos_sim <= 1.0 + 1e-9
        per_item.setdefault(r.item_id, []).append(r)
    for item, sims in per_item.items():
        sims.sort(key=lambda r: r.rank)
        assert [r.rank for r in sims] == list(range(1, len(sims) + 1))
        assert all(a.cos_sim >= b.cos_sim - 1e-12 for a, b in zip(sims, sims[1:]))


def test_recommend_all_users_equals_relational_topk(spark, trained):
    """Semantic certification of M9 (VERDICT r5 #6): given the trained
    factor matrices, ``recommendForAllUsers(k)`` must equal the
    relational top-k — broadcast the item-factor matrix, score every
    (user, item) pair with an explicit dot product (zip_with/aggregate,
    JVM-side), rank per user. This upgrades the ML family from shape
    invariants to a value-level check of MLlib's blocked recommend path
    against first-principles DataFrame algebra (reference capability:
    utils/recommender.py:145-161). Ties within float precision at the
    k-th boundary are the only allowed divergence."""
    result, _ = trained
    als = result.model.stages[-1]
    k = 5

    mllib = {
        (r.user_idx, r.item_idx): r.score
        for r in als.recommendForAllUsers(k)
        .select(
            "user_idx",
            F.explode("recommendations").alias("rec"),
        )
        .select(
            "user_idx",
            F.col("rec.item_idx").alias("item_idx"),
            F.col("rec.rating").cast("double").alias("score"),
        )
        .collect()
    }

    from pyspark.sql import Window

    uf = als.userFactors.select(
        F.col("id").alias("user_idx"), F.col("features").alias("u_f")
    )
    itf = als.itemFactors.select(
        F.col("id").alias("item_idx"), F.col("features").alias("i_f")
    )
    dot = F.aggregate(
        F.zip_with("u_f", "i_f", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("user_idx").orderBy(
        F.col("score").desc(), F.col("item_idx")
    )
    relational = {
        (r.user_idx, r.item_idx): r.score
        for r in uf.crossJoin(F.broadcast(itf))
        .select("user_idx", "item_idx", dot.alias("score"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .collect()
    }

    users = {u for u, _ in mllib}
    assert users == {u for u, _ in relational}
    for u in users:
        m_items = {i: s for (uu, i), s in mllib.items() if uu == u}
        r_items = {i: s for (uu, i), s in relational.items() if uu == u}
        # matched pairs: scores agree to float precision
        for i in m_items.keys() & r_items.keys():
            assert m_items[i] == pytest.approx(r_items[i], abs=1e-4)
        # any disagreement must be a tie at the k-th boundary
        boundary = min(r_items.values())
        for i in m_items.keys() ^ r_items.keys():
            s = m_items.get(i, r_items.get(i))
            assert s == pytest.approx(boundary, abs=1e-4), (
                f"user {u}: item {i} (score {s}) differs beyond boundary "
                f"ties (kth score {boundary})"
            )


def test_lda_topics_structural_invariants(spark, sf_dir):
    """x_lda_topics (rows-only by design): full topic/rank coverage,
    in-vocabulary terms, positive weights descending within each topic,
    and per-topic term uniqueness."""
    from recommender_systems_pyspark_spark.ml.topics import (
        _K,
        _TOP_TERMS,
        x_lda_topics,
    )
    from recommender_systems_pyspark_spark.sources import load_table

    rows = x_lda_topics(spark, sf_dir).collect()
    assert len(rows) == _K * _TOP_TERMS
    assert {r.topic for r in rows} == set(range(_K))
    vocab = {
        w
        for r in load_table(spark, sf_dir, "documents")
        .selectExpr("explode(split(lower(trim(text)), ' ')) AS w")
        .distinct()
        .collect()
        for w in [r.w]
    }
    by_topic: dict[int, list] = {}
    for r in rows:
        assert r.term in vocab
        assert r.weight > 0
        by_topic.setdefault(r.topic, []).append(r)
    for t, rs in by_topic.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(_TOP_TERMS))
        weights = [r.weight for r in rs]
        assert weights == sorted(weights, reverse=True), f"topic {t} weights not descending"
        assert len({r.term for r in rs}) == _TOP_TERMS


def test_ranking_quality_ndcg_and_hit_rate_pinned(spark, trained):
    """Held-out RANKING quality with pinned lower bounds (VERDICT r6 #8):
    RMSE alone can stay flat while top-N ordering degrades — this pins
    NDCG@10 and hit-rate@10 on the seeded 20% split, so a rank-quality
    regression (factor collapse, decode scramble, seed drift) fails loud.
    Deterministic end to end: seeded split, seeded ALS, fixed session
    parallelism — bounds are 2/3 of the values first recorded (NDCG@10
    0.1144, hit-rate@10 0.6667 over 15 evaluable users at fixture scale,
    with ALS's default 10×10 blocks; one block per input partition now
    gives NDCG@10 0.1328, hit-rate@10 0.8000), slack
    for ALS re-convergence noise
    under future Spark upgrades, fatal for real regressions."""
    import math

    result, ratings = trained
    train_df, test_df = ratings.select("user_id", "item_id", "rating").randomSplit(
        [0.8, 0.2], seed=42
    )
    # implicit-style relevance: every held-out interaction counts (the
    # fixture's rating spread is too thin for a >=threshold cut to leave
    # enough evaluable users at sf0.001)
    relevant = test_df.select("user_id", "item_id").distinct().toPandas()
    rel: dict = {}
    for r in relevant.itertuples():
        rel.setdefault(r.user_id, set()).add(r.item_id)

    recs = recommend_top_n(result.model, n=10).toPandas()
    ndcgs, hits = [], []
    for uid, grp in recs.sort_values("rank").groupby("user_id"):
        if uid not in rel:
            continue
        gains = [1.0 if it in rel[uid] else 0.0 for it in grp.item_id]
        dcg = sum(g / math.log2(i + 2) for i, g in enumerate(gains))
        idcg = sum(
            1.0 / math.log2(i + 2) for i in range(min(len(rel[uid]), 10))
        )
        ndcgs.append(dcg / idcg if idcg else 0.0)
        hits.append(1.0 if any(gains) else 0.0)

    assert len(ndcgs) >= 10, f"too few evaluable users ({len(ndcgs)})"
    ndcg10 = sum(ndcgs) / len(ndcgs)
    hit10 = sum(hits) / len(hits)
    print(f"NDCG@10={ndcg10:.4f} hit-rate@10={hit10:.4f} users={len(ndcgs)}")
    assert ndcg10 >= 0.076, f"NDCG@10 collapsed: {ndcg10:.4f}"
    assert hit10 >= 0.44, f"hit-rate@10 collapsed: {hit10:.4f}"


def test_als_recs_bit_stable_same_seed(spark, sf_dir):
    """The rows-only ml_als_top_recs face carries a determinism net
    (VERDICT r11 #7): two same-seed train+recommend runs in one session
    must produce the IDENTICAL (user, item, rank) set — seed drift,
    nondeterministic partitioning leaking into the factorization, or a
    decode scramble all fail here even though the driver can only check
    row counts."""
    ratings = ratings_from_events(spark, sf_dir)

    def run_once():
        r = train(ratings, AlsConfig(rank=8, max_iter=5))
        return sorted(
            (x.user_id, x.item_id, x.rank)
            for x in recommend_top_n(
                r.model, n=3, user_dim=r.user_dim, item_dim=r.item_dim
            ).collect()
        )

    first, second = run_once(), run_once()
    assert first == second and len(first) > 0


def test_als_recall_dominates_cooccurrence_baseline(spark, sf_dir):
    """Cross-model quality net (VERDICT r11 #7): on the shared seeded
    80/20 split, the ALS face's recall@10 must be at least the
    co-occurrence counting baseline's — the factor model has to beat the
    statistic it generalizes, or the training is broken in a way RMSE
    bounds alone can miss. Measured at fixture scale: ALS 13/94 hits vs
    co-occurrence 6/94 (recall 0.138 vs 0.064), a 2x margin over the
    assertion (12/94 with ALS's default 10×10 blocks)."""
    from pyspark.sql import Window

    ratings = ratings_from_events(spark, sf_dir)
    cfg = AlsConfig(rank=8, max_iter=5)
    res = train(ratings, cfg)
    # the SAME split train() used internally (same seed, same frame)
    train_df, test_df = ratings.select("user_id", "item_id", "rating").randomSplit(
        [0.8, 0.2], seed=cfg.seed
    )
    held = test_df.select("user_id", "item_id").distinct()

    als_recs = recommend_top_n(
        res.model, n=10, user_dim=res.user_dim, item_dim=res.item_dim
    ).select("user_id", "item_id")
    als_hits = als_recs.join(held, ["user_id", "item_id"]).count()

    # co-occurrence baseline trained on the same split: score candidate
    # j for user u by the summed co-occurrence of j with u's train items
    ui = train_df.select("user_id", "item_id").distinct()
    a, b = ui.alias("a"), ui.alias("b")
    cooc = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") != F.col("b.item_id")),
        )
        .groupBy(F.col("a.item_id").alias("i"), F.col("b.item_id").alias("j"))
        .agg(F.count("*").alias("c"))
    )
    top10 = (
        ui.join(cooc, ui.item_id == cooc.i)
        .groupBy("user_id", "j")
        .agg(F.sum("c").alias("s"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("s"), F.asc("j"))
            ),
        )
        .where("rn <= 10")
        .select("user_id", F.col("j").alias("item_id"))
    )
    co_hits = top10.join(held, ["user_id", "item_id"]).count()

    assert als_hits >= co_hits > 0, (
        f"ALS recall must dominate the co-occurrence baseline: "
        f"ALS hits {als_hits} vs co-occurrence {co_hits}"
    )
