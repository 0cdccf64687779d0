"""Round-11 regression tests: the three ADVICE r10 hardening items
(truncated-Y4M sniff, one-rounding-rule certification math, staged-feed
monotonicity assertion) plus the operators added this round."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest


# ---------------------------------------------------------------------------
# ADVICE r10 #2: a truncated Y4M header (magic, no newline) must be a
# 'malformed' LEDGER ROW, not a Spark task failure
# ---------------------------------------------------------------------------


def test_sniff_truncated_y4m_is_malformed_row_not_task_failure():
    from recommender_systems_pyspark_spark.multimodal.media import (
        _sniff_container,
        codec_probe,
    )

    cases = {
        # magic only, no newline ever — the ADVICE repro (b.index raised)
        b"YUV4MPEG2 ": ("y4m_?", "malformed"),
        # header params present but unterminated: sniff what's there
        b"YUV4MPEG2 W4 H4 Cmono": ("y4m_mono", "malformed"),
        b"YUV4MPEG2 W4 H4 C420": ("y4m_420", "malformed"),
    }
    for payload, (container, _) in cases.items():
        assert _sniff_container(payload) == container, payload
    pdf = pd.DataFrame(
        {"doc_id": range(len(cases)), "payload_enc": list(cases.keys())}
    )
    (out,) = list(codec_probe(iter([pdf])))  # must not raise
    for (payload, (container, outcome)), row in zip(
        cases.items(), out.itertuples(index=False)
    ):
        assert (row.container, row.outcome) == (container, outcome), payload


# ---------------------------------------------------------------------------
# ADVICE r10 #3: one rounding rule on both sides — tie values (x.5 after
# scaling) must produce the SAME integer in the Spark-side fold and in the
# DuckDB oracle expression
# ---------------------------------------------------------------------------

#: Values whose scaled products land exactly on .5 in binary doubles
#: (0.125*100 = 12.5 exactly; 2.5e-6*1e6 = 2.5 exactly) — the numpy
#: half-to-even vs DuckDB half-away divergence class.
_TIE_VALUES = [0.125, 0.375, 1.125, 0.625, 3.875]


def test_anomaly_cents_match_oracle_rule_on_ties():
    spark_side = np.floor(np.array(_TIE_VALUES) * 100 + 0.5).astype(np.int64)
    got = duckdb.sql(
        "SELECT CAST(floor(v * 100 + 0.5) AS BIGINT) FROM "
        "(SELECT UNNEST($1) AS v)",
        params=[_TIE_VALUES],
    ).fetchall()
    assert list(spark_side) == [r[0] for r in got]
    # and the old divergence is real: numpy .round() would disagree with
    # DuckDB round() on these — proof the tie class isn't vacuous
    np_round = np.array([round(v * 100) for v in [0.125]])
    duck_round = duckdb.sql("SELECT round(0.125 * 100)").fetchone()[0]
    assert np_round[0] != float(duck_round)


def test_stateful_micros_match_oracle_rule_on_ties():
    vals = [2.5e-6, 0.0000035, 1.0000005]
    spark_side = np.floor(np.array(vals) * 1_000_000 + 0.5).astype(np.int64)
    got = duckdb.sql(
        "SELECT CAST(floor(v * 1000000 + 0.5) AS BIGINT) FROM "
        "(SELECT UNNEST($1) AS v)",
        params=[vals],
    ).fetchall()
    assert list(spark_side) == [r[0] for r in got]


def test_anomaly_fold_uses_floor_rule():
    """A tie-valued event must fold into state with the floor(x+0.5)
    cents, not numpy banker's rounding (12 vs 13 for 0.125)."""
    from recommender_systems_pyspark_spark.streaming.anomaly import _flag_user

    class _St:
        exists = False
        get = None

        def update(self, tup):
            self.get = tup

    st = _St()
    pdf = pd.DataFrame({"event_id": [0], "user_id": [1], "value": [0.125]})
    list(_flag_user((1,), iter([pdf]), st))
    n, s, q = st.get
    assert (n, s, q) == (1, 13, 169)  # floor(12.5+0.5)=13, not round()=12


# ---------------------------------------------------------------------------
# ADVICE r10 #4: the staged-feed ts-monotonicity assumption is ASSERTED
# ---------------------------------------------------------------------------


def test_stage_ordered_files_monotonicity_assertion(spark, tmp_path):
    from recommender_systems_pyspark_spark.streaming.staging import (
        stage_ordered_files,
    )

    import datetime as dt

    rows = [(i, dt.datetime(2024, 1, 1, 0, i)) for i in range(8)]
    ok = spark.createDataFrame(rows, "event_id bigint, ts timestamp_ntz")
    stage_ordered_files(
        ok, "event_id", 2, str(tmp_path / "ok"), assert_monotone_col="ts"
    )

    # swap two timestamps across the batch boundary: id order no longer
    # time order → must raise at staging, not hash-mismatch downstream
    bad_rows = list(rows)
    bad_rows[1], bad_rows[6] = (
        (1, bad_rows[6][1]),
        (6, bad_rows[1][1]),
    )
    bad = spark.createDataFrame(bad_rows, "event_id bigint, ts timestamp_ntz")
    with pytest.raises(ValueError, match="not ts-monotone"):
        stage_ordered_files(
            bad, "event_id", 2, str(tmp_path / "bad"), assert_monotone_col="ts"
        )


# ---------------------------------------------------------------------------
# round-11 operators
# ---------------------------------------------------------------------------


def test_ri_audit_checks_and_reconciliation(spark, sf_dir):
    from recommender_systems_pyspark_spark.registry import all_queries

    rows = {
        r.check_name: r
        for r in all_queries()["x_ri_audit"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {
        "lineitem_orphan",
        "order_childless",
        "order_customer_orphan",
        "customer_nation_orphan",
        "totalprice_mismatch",
    }
    for r in rows.values():
        assert r.n_violations >= 0
        # detail is 0 exactly when the check found nothing (orphan
        # checks report a min key; recon reports max delta)
        if r.n_violations == 0:
            assert r.detail == 0


def test_deletion_vectors_ledger_partitions_every_row(spark, sf_dir):
    """Per file: live + pos-deleted + eq-deleted must equal the file's
    row count (precedence is exhaustive and exclusive), and the delete
    rules must be non-vacuous on the fixture."""
    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.sources import load_table
    from recommender_systems_pyspark_spark.sources.deletes import _FILE_ROWS

    out = all_queries()["x_deletion_vectors"].fn(spark, sf_dir)
    sizes = (
        load_table(spark, sf_dir, "documents")
        .groupBy((F.col("doc_id") / _FILE_ROWS).cast("long").alias("file_id"))
        .count()
    )
    joined = out.join(sizes, "file_id").collect()
    assert joined
    assert all(
        r.n_live + r.n_pos_deleted + r.n_eq_deleted == r["count"]
        for r in joined
    )
    assert sum(r.n_pos_deleted for r in joined) > 0
    assert sum(r.n_eq_deleted for r in joined) > 0
    assert sum(r.n_live for r in joined) > 0


def test_snapshot_restore_horizon_shrinks(spark, sf_dir):
    """After the restore query runs its vacuum, time travel to v1 must
    raise — certified here because the registered query can only surface
    on_disk flags, not the raised read."""
    import tempfile

    import pytest as _pytest
    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.sources import load_table
    from recommender_systems_pyspark_spark.sources.versioned import (
        list_versions,
        read_snapshot,
        vacuum,
        write_snapshot,
    )

    df = load_table(spark, sf_dir, "region").select("r_regionkey")
    with tempfile.TemporaryDirectory() as d:
        path = d + "/t"
        write_snapshot(df, path)
        write_snapshot(df.where(F.col("r_regionkey") > 1), path)
        write_snapshot(read_snapshot(spark, path, version=1), path)
        vacuum(path, keep_last=2)
        assert list_versions(path) == [2, 3]
        with _pytest.raises(FileNotFoundError):
            read_snapshot(spark, path, version=1)
        # the restored head equals v1 content
        assert read_snapshot(spark, path).count() == df.count()


def test_s16_holds_back_open_day(spark, sf_dir):
    """The cascade must emit only watermark-closed days: the fixture's
    final day stays open (delay > 0), so emitted days < calendar days,
    and emitted counts must equal the batch GROUP BY on those days."""
    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.sources import load_table

    out = all_queries()["s16_stream_hour_day_rollup"].fn(spark, sf_dir)
    got = out.collect()
    assert got
    ev = load_table(spark, sf_dir, "events")
    all_days = ev.select(
        F.date_trunc("day", "ts").alias("d")
    ).distinct()
    emitted_days = {r.window_start for r in got}
    assert len(emitted_days) < all_days.count()  # last day held back
    batch = {
        (r.d, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("day", "ts").alias("d"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .collect()
        if r.d in emitted_days
    }
    assert {(r.window_start, r.event_type): r.n_events for r in got} == batch


def test_graph_jaccard_bounds_and_ordering(spark, sf_dir):
    from recommender_systems_pyspark_spark.functions.pagerank import (
        cached_copurchase_edges,
    )
    from recommender_systems_pyspark_spark.registry import all_queries

    rows = all_queries()["x_graph_jaccard"].fn(spark, sf_dir).collect()
    assert rows
    # embeddedness is defined ON EDGES: every scored pair must be one
    edge_set = {
        (e.src, e.dst) for e in cached_copurchase_edges(spark, sf_dir).collect()
    }
    assert all((r.src, r.dst) in edge_set for r in rows)
    for r in rows:
        assert r.src < r.dst  # canonical orientation, no self-pairs
        assert 1 <= r.n_common <= r.n_union
        assert 0.0 < r.jaccard <= 1.0
        assert abs(r.jaccard - r.n_common / r.n_union) == 0.0
    js = [r.jaccard for r in rows]
    assert js == sorted(js, reverse=True)


def test_recs_eval_metric_invariants(spark, sf_dir):
    """Hit counts must be monotone in k, bounded by the recommended and
    relevant pair counts, and the harness must actually score something
    (a zero-hit evaluation would hash-match a broken zero oracle)."""
    from recommender_systems_pyspark_spark.registry import all_queries

    rows = all_queries()["x_recs_eval"].fn(spark, sf_dir).collect()
    assert [r.k for r in rows] == [1, 2, 3, 4, 5]
    n_eval, n_relevant = rows[0].n_eval, rows[0].n_relevant
    assert n_eval > 0 and n_relevant >= n_eval
    prev_h, prev_r = 0, 0
    for r in rows:
        assert (r.n_eval, r.n_relevant) == (n_eval, n_relevant)
        assert r.n_hits >= prev_h and r.n_recommended >= prev_r
        assert r.n_hits <= r.n_recommended
        assert r.n_hits <= r.n_relevant
        assert r.n_recommended <= r.k * n_eval
        prev_h, prev_r = r.n_hits, r.n_recommended
    assert rows[-1].n_hits > 0  # the recommender finds real future buys


def test_knn_filtered_respects_predicate(spark, sf_dir):
    """Pre-filter semantics: every returned neighbour carries a label
    different from its query's, exactly k rows per query, scores
    descending — and a high-cosine SAME-label vector must never appear
    (the post-filter failure mode)."""
    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.sources import tables

    rows = all_queries()["x_knn_filtered_topk"].fn(spark, sf_dir).collect()
    qlabels = {
        r.vec_id: r.label
        for r in tables(spark, sf_dir)["embeddings"]
        .select("vec_id", "label")
        .where("vec_id < 3")
        .collect()
    }
    per_q = {}
    for r in rows:
        assert r.label != qlabels[r.qid]
        assert r.vec_id >= 3
        per_q.setdefault(r.qid, []).append(r.cos_sim)
    assert set(per_q) == set(qlabels)
    for sims in per_q.values():
        assert len(sims) == 5
        assert sims == sorted(sims, reverse=True)


def test_scd2_late_correction_is_really_incremental(spark, sf_dir):
    """The correction must be non-vacuous (the late batch actually
    changes some affected user's intervals vs the base-only history)
    AND surgical (untouched users' histories are byte-identical to the
    base build)."""
    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.functions.warehouse import (
        _LATE_MOD,
        _LATE_REM,
        scd2_history,
    )
    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.sources import tables

    ev = tables(spark, sf_dir)["events"]
    is_late = F.col("event_id") % _LATE_MOD == _LATE_REM
    affected = {r.user_id for r in ev.where(is_late).select("user_id").distinct().collect()}
    assert affected  # the late batch hits someone

    corrected = all_queries()["x_scd2_late_correction"].fn(spark, sf_dir)
    base_hist = scd2_history(ev.where(~is_late))

    def rows(df, users, keep):
        return sorted(
            tuple(r) for r in df.where(F.col("user_id").isin(*users) == keep).collect()
        )

    # untouched users: base history == corrected history exactly
    assert rows(base_hist, affected, False) == rows(corrected, affected, False)
    # affected users: the correction changed SOMETHING vs the base build
    assert rows(base_hist, affected, True) != rows(corrected, affected, True)


def test_s16_chained_agg_restart_recovery(spark, sf_dir, tmp_path):
    """Stop-and-resume the TWO-TIER chained aggregation: run the
    hourly→daily cascade over half the staged files with a durable
    (parquet) sink + checkpoint, stop, land the rest, resume with a
    fresh query object on the SAME checkpoint. Both state tiers must
    recover from the checkpoint: the union of both lifetimes' appended
    rows must equal the single-lifetime run exactly — nothing lost,
    nothing double-emitted. (s11 certifies restart for foreachBatch
    upsert; this covers the multi-stateful-operator pipeline.)"""
    import os
    import shutil

    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.session import scoped_conf
    from recommender_systems_pyspark_spark.sources import load_table
    from recommender_systems_pyspark_spark.streaming.chained_rollup import (
        _N_BATCHES,
        hour_day_rollup,
    )
    from recommender_systems_pyspark_spark.streaming.staging import (
        stage_ordered_files,
        state_sized_partitions,
    )

    with scoped_conf(spark, {"spark.sql.session.timeZone": "UTC"}):
        staged = str(tmp_path / "staged")
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ck = str(tmp_path / "ck")
        os.makedirs(src)
        feed = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        stage_ordered_files(feed, "event_id", _N_BATCHES, staged)
        batches = sorted(os.listdir(staged))

        def run_lifetime():
            stream = (
                spark.readStream.schema(
                    "event_id bigint, ts timestamp_ntz, event_type string, "
                    "value double"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .select(
                    F.col("ts").cast("timestamp").alias("ts"),
                    "event_type",
                    F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
                    .cast("long")
                    .alias("value_cents"),
                )
            )
            q = (
                hour_day_rollup(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        with state_sized_partitions(spark):
            for name in batches[:2]:
                shutil.copy2(f"{staged}/{name}", f"{src}/{name}")
            run_lifetime()
            for name in batches[2:]:
                shutil.copy2(f"{staged}/{name}", f"{src}/{name}")
            run_lifetime()  # fresh query object; only the checkpoint survives

        got = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select(
                F.col("window_start").cast("timestamp_ntz").alias("ws"),
                "event_type",
                "n_events",
                "cents_total",
            )
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in all_queries()["s16_stream_hour_day_rollup"]
            .fn(spark, sf_dir)
            .collect()
        )
        assert got == want


def test_quarantine_split_is_projection_independent(spark, tmp_path):
    """Regression for the CSV column-pruning trap: an aggregate over the
    quarantine that references ONLY the key column must still see the
    rows whose OTHER field failed to parse. With the csv datasource the
    pruned parse never attempts the failing field, the corrupt marker
    stays null, and the quarantine silently empties — exactly what
    x_malformed_quarantine's first run caught; the text+from_csv reader
    makes the split projection-independent."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from recommender_systems_pyspark_spark.sources.ingest import (
        read_tsv_quarantine,
    )

    p = tmp_path / "feed.tsv"
    p.write_text("id\tv\n1\t1.5\n2\toops\n3\t2.5\n")
    schema = StructType([StructField("id", LongType()), StructField("v", DoubleType())])
    clean, quar = read_tsv_quarantine(spark, str(p), schema)
    # the trap: touch ONLY the id column on both sides
    assert quar.select("id").count() == 1
    assert [r.id for r in quar.select("id").collect()] == [2]
    assert clean.select("id").count() == 2
    # the triage property: the corrupt row's key column still parsed
    row = quar.collect()[0]
    assert row.id == 2 and row.v is None and "oops" in row.raw_line


def test_ri_audit_orphan_detail_is_entity_key(spark):
    """On a fixture that HAS orphans the detail column must report the
    smallest violating ENTITY key, not the join key — the two differ for
    the order→customer check, and min(join key) would match the oracle
    only while the orphan count is zero (latent-divergence class)."""
    from recommender_systems_pyspark_spark.operators.reconcile import (
        orphan_check,
    )

    fact = spark.createDataFrame(
        [(100, 1), (50, 999), (60, 998)],  # (o_orderkey, o_custkey)
        "o_orderkey bigint, o_custkey bigint",
    )
    dim = spark.createDataFrame([(1,)], "c_custkey bigint")
    got = orphan_check(
        fact, "o_custkey", dim, "c_custkey", "o_orderkey"
    ).collect()[0]
    assert (got.n, got.detail) == (2, 50)  # min orderkey, NOT min custkey (998)


def test_s17_complete_mode_snapshot_is_boundary_independent(spark, sf_dir):
    """The final COMPLETE-mode emission must equal the one-shot batch
    aggregate (full snapshot, not the last batch's delta), and the
    leaderboard must be non-trivial."""
    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.sources import load_table

    got = all_queries()["s17_stream_topk_complete"].fn(spark, sf_dir).collect()
    assert len(got) == 10
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
            ).alias("cents_total"),
        )
        .orderBy(F.desc("cents_total"), "user_id")
        .limit(10)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got[0].n_events > 1  # a real multi-event leaderboard


def test_s18_available_now_terminates_and_carries_offsets(spark, sf_dir):
    """The bounded-run contract: each AvailableNow lifetime must exit on
    its own AND the second lifetime must ingest ONLY the unseen files
    (certified indirectly by the query's hash gate; here we pin the
    self-termination and the exact final row count)."""
    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.sources import load_table

    out = all_queries()["s18_stream_backfill_available_now"].fn(spark, sf_dir)
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    rows = out.collect()
    assert len(rows) == n_users
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == total  # nothing lost/doubled


def test_wap_blocked_candidate_never_reaches_prod(spark, sf_dir):
    """The WAP gate property stated directly: after the three-attempt
    drill the prod store must hold exactly two versions (v1 clean, v2
    corrected) and NO published version may contain a null mktsegment —
    the corrupted candidate existed only in staging."""
    from recommender_systems_pyspark_spark.registry import all_queries

    rows = all_queries()["x_wap_publish"].fn(spark, sf_dir).collect()
    assert [r.attempt for r in rows] == [1, 2, 3]
    assert [r.audit_passed for r in rows] == [True, False, True]
    assert [r.head_version for r in rows] == [1, 1, 2]
    # attempt 2 changed nothing: head stats identical to attempt 1
    assert (rows[0].head_rows, rows[0].head_bal_cents) == (
        rows[1].head_rows,
        rows[1].head_bal_cents,
    )
    # the corrected publish IS visible: +10 cents per row
    assert rows[2].head_bal_cents == rows[0].head_bal_cents + 10 * rows[0].head_rows
