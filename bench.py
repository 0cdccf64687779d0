"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop-format write (full computation on
executors, no driver collect — measures the engine, not py4j transfer).

Cold/warm policy (VERDICT r13 what's-wrong #1): every batch RECORD_ONLY
entry runs TWICE — the first (cold) pass pays parquet-footer/codegen/
block-manager warmup plus any shared-artifact memo build (SCC assignment,
aHash decode, eval points, k-truss rounds) and is recorded under
``queries_cold``; the second (steady-state) pass is the canonical
``queries`` figure, comparable round-over-round and to the scale
rehearsal's rows. HEADLINE entries stay single-run so the headline total
remains apples-to-apples with the r1 baseline; streaming-family entries
already run on a fresh recycled session (the r13 fix) and stay single-run
— their cost IS the per-trigger machinery, which a warm rerun would
understate.

Isolation policy (VERDICT r14 next-round #7): every batch RECORD_ONLY
entry runs on its OWN recycled session (stop + fresh get_spark + the same
tpch_q6 warmup tools/measure.py uses), because rows that followed the
long sweep inflated up to 4x over their isolated truth even with the
block-manager reclaim (x_dedup_e2e 17.0 s in-sweep vs 4.3 s isolated,
same confs — OPTIMIZATION_r14 §5). The canonical ``queries`` figure is
now the fresh-session steady-state pass, i.e. directly comparable to
tools/measure.py. HEADLINE keeps its single shared session (its protocol
is frozen against the r1 baseline). Methodology note for cross-round
reads: r14 warm rows carry sweep-position residue; r15+ rows do not —
OPTIMIZATION_r15.md records both protocols side by side for this round.

Codegen policy: the engine sizes Spark's generated-class cache to 4096
entries (``session.ENGINE_CONFS``). That cache is JVM-wide and outlives
the per-entry ``spark.stop()``, so a ``queries_cold`` row no longer pays
Janino compiles for classes that an earlier entry already compiled in
this JVM; cold rows recorded with Spark's 100-entry cache (r15 and
earlier) are not directly comparable to later ones. The detail sidecar
records each run's compile count (a ``CodegenMetrics`` delta around the
run) under ``codegen_compiles`` and ``codegen_compiles_cold``, and the
milliseconds the JVM's JIT compilers spent during each run (a
``CompilationMXBean`` delta) under ``jit_ms`` and ``jit_ms_cold``.

Output contract (VERDICT r14 next-round #1): the driver's stdout capture
keeps only the LAST ~2000 characters, so the full per-query line (first)
lost its leading fields once ``queries`` outgrew the window — the driver
parsed r10–r14 benches blind. stdout now ends with a SMALL final JSON
line carrying the same metric/value/unit/sf plus a ``queries`` map
restricted to a fixed rule-based subset that fits the window: HEADLINE
plus every streaming-family entry (s\\d+_*, stream_*) plus every *_e2e
composite (membership is code, not per-run choice — no per-run
cherry-picking is possible). The FULL maps (every entry, plus
``queries_cold``) stay on the first stdout line unchanged AND are written
to BENCH_DETAIL_c{SPARK_GRAFT_CPUS}.json next to this file.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "flagship_top_orders",
    "d1_month_rollup",
    "j1_inner_join_agg",
    "j2_left_join_agg",
    "t1_topk_orders",
    "a1_a4_global_aggs",
    # Extension headliners (added r2 — these set their own baseline, same
    # rule as r1): one each from dedup, similarity, text, streaming-batch.
    "x_dedup_exact",
    "x_knn_cosine_topk",
    "x_text_quality",
    "s1_tumbling_window",
    # Round-3 headliners (set their own baseline on first recorded run):
    # the heaviest new aggregate shape and the token-shuffle text op.
    "a10_stat_moments",
    "x_line_dedup",
]

#: Timed and recorded in the JSON (own baselines from this round) but
#: NOT summed into the headline total — same rule as the streaming
#: entries, so the headline stays apples-to-apples with rounds 1-3.
RECORD_ONLY = [
    "x_bm25_topk",
    "x_pagerank",
    "x_fpgrowth_itemsets",
    # Round-5 extension shapes (own baselines from this round): the
    # composed publish funnel, the bounded-fan-out sliding distinct, and
    # the distributed-global-rank statistic.
    "x_dataset_publish_e2e",
    "x_rolling_distinct_7d",
    "x_gini_concentration",
    # Round-6: the composed e2e pipelines + the two-phase global rank —
    # the operators whose cost actually predicts 100 TB behavior
    # (VERDICT r5 #3). Own baselines from this round's first recording.
    "x_corpus_e2e",
    "x_dedup_e2e",
    "x_interval_overlap",
    "x_global_rank",
    # New-in-r6 dedup shapes (own baselines from first recording).
    "x_dedup_jaccard_join",
    "x_dedup_incremental",
    "x_semdedup",
    "x_tokens_e2e",
    "x_bfs_hops",
    # Round-7/8 shapes (own baselines from this round's first recording):
    # the wired r7 trio + bucketed join, and the r8 two-tier funnel,
    # layout ledger, and estimator calibration.
    "x_bloom_decontaminate",
    "x_dsir_select",
    "x_zorder_cells",
    "x_bucketed_join",
    "x_decontam_e2e",
    "x_zorder_pruning_gain",
    "x_minhash_calibration",
    "x_semdedup_incremental",
    "x_ivf_recall",
    "x_label_propagation",
    "s10_late_data_audit",
    "x_ingest_gate_e2e",
    "x_kcore_layers",
    "s11_restart_recovery",
    "x_length_bucketing",
    "x_target_encoding",
    "x_snapshot_diff",
    "x_forget_users",
    "x_schema_evolution",
    # Round-9 shapes (own baselines from this round's first recording):
    # hybrid retrieval fusion, graph walk corpus prep, layout maintenance,
    # tokenizer sizing, perceptual image near-dup, streaming CDC, drift.
    # x_cluster_safe_split is deliberately NOT benched: its Spark side
    # reuses the quadratic ground-truth pair join (same rule that keeps
    # x_dedup_clusters out of the bench — the scale path feeds the same
    # audit from LSH pairs).
    "x_hybrid_rrf",
    "x_random_walks",
    "x_compaction_plan",
    "x_vocab_coverage",
    "x_media_ahash_pairs",
    "s12_cdc_apply",
    "x_tvd_drift",
    "x_audio_energy",
    "x_video_shot_boundaries",
    "x_weighted_sample",
    "x_fd_profile",
    "s13_stream_scd2_enrich",
    "x_feature_hashing",
    # x_entity_resolution_e2e is deliberately NOT benched: the synthetic
    # fixture's fixed-width sequential names defeat length blocking (per-
    # nation all-pairs match density no real dimension exhibits), so its
    # sf0.1 wall-clock measures the fixture pathology, not the plan.
    # Round-10 shapes (own baselines from this round's first recording):
    # executed compaction + certification, codec-coverage decode probe,
    # per-event stateful streaming anomaly gate.
    "x_compaction_apply",
    "x_media_codec_coverage",
    "s14_stream_anomaly",
    "x_graph_modularity",
    "x_knn_ivfpq_topk",
    "x_passjoin_ed1",
    "s15_stream_session_timeout",
    # Round-11 shapes (own baselines from this round's first recording):
    # cross-table reconciliation, MoR delete apply, snapshot lifecycle,
    # interchange-format matrix, chained streaming rollup, graph Jaccard.
    "x_ri_audit",
    "x_deletion_vectors",
    "x_snapshot_restore",
    "x_format_roundtrip",
    "s16_stream_hour_day_rollup",
    "x_graph_jaccard",
    "x_recs_eval",
    "x_knn_filtered_topk",
    "x_scd2_late_correction",
    "x_malformed_quarantine",
    "s17_stream_topk_complete",
    "s18_stream_backfill_available_now",
    "x_wap_publish",
    # Round-12 shapes (own baselines from this round's first recording):
    # delete-aware compaction lifecycle, privacy ledger, asymmetric
    # containment dedup, approx-NDV ANALYZE path.
    "x_mor_compact_e2e",
    "x_kanon_audit",
    "x_containment_join",
    "x_fd_profile_approx",
    "x_bpe_encode",
    "x_snapshot_asof_ts",
    "x_source_overlap_kmv",
    "x_dp_noisy_counts",
    "x_graph_scc",
    "x_mixture_temperature",
    "x_ivm_join_delta",
    "x_phrase_search",
    "x_ktruss_peel",
    "x_scc_condensation",
    # Round-13 shapes (own baselines from this round's first recording):
    # deterministic row stamping, aggregate IVM, mergeable-HLL rollup,
    # generalization ladder, medoids, NDCG, raking, CDC net-effect,
    # assortativity moments, composed perceptual media dedup.
    "f7_f8_row_metadata_det",
    "x_ivm_agg_delta",
    "x_hll_rollup_merge",
    "x_kanon_generalize",
    "x_cluster_medoids",
    "x_ndcg_eval",
    "x_raking_weights",
    "x_cdc_net_effect",
    "x_graph_assortativity",
    "x_media_dedup_e2e",
    "x_winsorized_stats",
    "x_embed_centroid_drift",
    "s19_dynamic_session_gap",
    "s20_view_click_semi",
    # Round-14 shapes (own baselines from this round's first recording):
    # the two new mergeable-sketch rollups, the calibration profile, and
    # the full-outer funnel face (routed to the streaming split by name).
    "x_quantile_rollup_merge",
    "x_kmv_rollup_merge",
    "x_ece_calibration",
    "s21_view_click_full",
    "x_bpe_fertility",
    "x_dedup_source_priority",
    "x_auc_rank",
    "x_bootstrap_ci",
    "x_dp_bounded_contribution",
    "s22_stream_quantile_rollup",
    "x_range_partition_balance",
    "s23_stream_static_anti",
    "x_media_hash_agreement",
    "x_weighted_quantile",
]


def reclaim(spark, settle_sec: float = 1.0) -> None:
    """Release executor block-manager space left by checkpoint-heavy
    queries (truncated-lineage RDD blocks live until their Python refs
    are collected). Residual pressure measurably bleeds into whatever
    runs next: r7 recorded x_dedup_incremental at 4.87 s straight after
    the jaccard+semdedup pair vs 1.43 s in isolation at the same sf
    (VERDICT r7 #7) — a measurement artifact, not a plan cost."""
    import gc

    gc.collect()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    time.sleep(settle_sec)  # let ContextCleaner drop the released blocks


def run_streaming(spark, sf_dir: str) -> dict[str, float]:
    """Micro-batch wall-clock per streaming family (VERDICT r3 #6): drives
    the REAL Structured Streaming engine — file source → watermark →
    stateful op → noop sink — not the batch twins the correctness gate
    checks. Events are staged as 8 parquet files with maxFilesPerTrigger=4,
    so every figure covers ≥2 micro-batches of source discovery, state
    store traffic, and trigger scheduling."""
    import tempfile

    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.sources import load_table
    from recommender_systems_pyspark_spark.streaming import engine as se
    from recommender_systems_pyspark_spark.streaming.staging import (
        state_sized_partitions,
    )

    out: dict[str, float] = {}
    # the certified streams' session policy (staging.STREAM_CONFS): UTC and
    # shuffle partitions sized to state volume, not core count
    with (
        tempfile.TemporaryDirectory(prefix="bench_stream_", ignore_cleanup_errors=True) as d,
        state_sized_partitions(spark),
    ):
        src = d + "/events"
        # Watermarks require TIMESTAMP (LTZ); the fixtures carry
        # TIMESTAMP_NTZ, so the staging write casts (UTC session tz).
        load_table(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).repartition(8).write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema

        def stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 4)
                .parquet(src)
            )

        from recommender_systems_pyspark_spark.streaming.stateful import (
            cumulative_user_stats,
        )

        cust = load_table(spark, sf_dir, "customer")
        # applyInPandasWithState carries timestamp_ntz state; no watermark →
        # ntz is legal there (the windowed plans need TIMESTAMP for the
        # watermark, hence the LTZ staging above).
        plans = {
            "stream_s1_tumbling": (lambda: se.windowed_counts(stream()), "append"),
            "stream_s2_sliding": (
                lambda: se.windowed_counts(stream(), slide="30 minutes"),
                "append",
            ),
            "stream_s3_session": (lambda: se.session_counts(stream()), "append"),
            "stream_s4_stateful": (
                lambda: cumulative_user_stats(
                    stream().withColumn("ts", F.col("ts").cast("timestamp_ntz"))
                ),
                "update",
            ),
            "stream_s5_enrich": (lambda: se.enrich_stream(stream(), cust), "append"),
            "stream_s6_join": (
                lambda: se.join_view_click(
                    stream().where(F.col("event_type") == "view"),
                    stream().where(F.col("event_type") == "click"),
                ),
                "append",
            ),
            "stream_s7_dedup": (
                lambda: se.dedup_stream(stream(), ["event_id"]),
                "append",
            ),
            "stream_s8_outer_join": (
                lambda: se.join_view_click_outer(
                    stream().where(F.col("event_type") == "view"),
                    stream().where(F.col("event_type") == "click"),
                ),
                "append",
            ),
        }
        for i, (name, (plan, mode)) in enumerate(plans.items()):
            # Same block-manager reclaim as the RECORD_ONLY batch entries
            # (VERDICT r9 #6): the r9 run drifted +13-34% uniformly on
            # untouched streaming code because each entry inherited the
            # previous stream's state-store/shuffle leftovers.
            reclaim(spark)
            t0 = time.perf_counter()
            se.drain(
                plan()
                .writeStream.format("noop")
                .option("checkpointLocation", f"{d}/ck{i}")
                .outputMode(mode)
            )
            out[name] = round(time.perf_counter() - t0, 4)
    return out


#: Only the last ~2000 characters of stdout are captured.
FINAL_LINE_MAX = 1900


def final_summary_line(summary: dict) -> str:
    """The compact JSON of ``summary``. When it would not fit the capture
    window, its ``queries`` map goes to stderr instead and the line carries
    ``"queries_truncated": true``, so it stays small and parseable."""
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) < FINAL_LINE_MAX:
        return line
    rest = dict(summary)
    print(json.dumps({"queries": rest.pop("queries")}), file=sys.stderr)
    rest["queries_truncated"] = True
    return json.dumps(rest, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from recommender_systems_pyspark_spark.registry import all_queries
    from recommender_systems_pyspark_spark.session import (
        codegen_compiles,
        default_parallelism,
        get_spark,
        jit_compile_ms,
    )

    spark = get_spark("spark-graft-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    def run(name: str) -> tuple[float, int, int]:
        """Wall seconds, Janino compiles and JIT compile milliseconds of
        one noop-forced run."""
        spark.sparkContext.setJobDescription(name)
        n0, jit0 = codegen_compiles(spark), jit_compile_ms(spark)
        t0 = time.perf_counter()
        specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        return dt, codegen_compiles(spark) - n0, jit_compile_ms(spark) - jit0

    compiles: dict[str, int] = {}
    compiles_cold: dict[str, int] = {}
    jit: dict[str, int] = {}
    jit_cold: dict[str, int] = {}

    def record(
        name: str, times: dict[str, float], counts: dict[str, int], jit_ms: dict[str, int]
    ) -> None:
        dt, counts[name], jit_ms[name] = run(name)
        times[name] = round(dt, 4)

    # Streaming-family entries are split out of the batch sweep and run on
    # a RECYCLED session (VERDICT r12 #2 / what's-wrong fix): after ~100
    # batch queries the session carries enough block-manager/state-store
    # residue that the committed s12–s18 rows ran 2.3× over their
    # fresh-session truth every round — making the canonical artifact
    # unable to flag a REAL streaming regression. With the restart, the
    # committed row IS the reproducible number.
    stream_batch = [n for n in RECORD_ONLY if re.match(r"^s\d+_", n)]
    batch_only = [n for n in RECORD_ONLY if n not in stream_batch]

    # Warmup: JVM/codegen/parquet-footer caches on the smallest headliner.
    run("tpch_q6")
    # Warm the train-once SemDeDup quantizer (sources/versioned snapshot):
    # the k-means fit is a one-time model cost amortized across every
    # later run, so x_semdedup's recorded figure measures the steady
    # state — assignment + within-cell prune — not refitting (VERDICT r7
    # #6). First bench on a fresh checkout pays the fit here, visibly
    # outside the per-query timings.
    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.functions.similarity import (
        _INC_MOD,
        cached_centroids,
        semdedup_centroids,
    )
    from recommender_systems_pyspark_spark.sources import tables as _tables

    semdedup_centroids(spark, sf_dir).count()
    # Same for the incremental/ingest-gate quantizers (trained on their
    # established-corpus subsets): steady-state ticks load, never refit.
    _emb = _tables(spark, sf_dir)["embeddings"]
    for subset, keep in (
        (f"est_mod{_INC_MOD}", F.col("vec_id") % _INC_MOD != 0),
        ("est_mod10ge8", F.col("vec_id") % 10 < 8),
    ):
        cached_centroids(
            spark, sf_dir, subset, _emb.where(keep).select("vec_id", "embedding")
        ).count()
    # Materialize-the-graph-once (same store): the wedge-join edge build
    # shared by pagerank/BFS/LPA/k-core is a per-corpus-version artifact,
    # not a per-query cost.
    from recommender_systems_pyspark_spark.functions.pagerank import (
        _cached_strong_edges,
        cached_copurchase_edges,
    )

    cached_copurchase_edges(spark, sf_dir).count()
    _cached_strong_edges(spark, sf_dir).count()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name in specs:
            record(name, timings, compiles, jit)

    # Extension shapes: recorded, not summed (see RECORD_ONLY). Each
    # entry runs twice — cold first (recorded separately), then the
    # canonical steady-state pass (see the cold/warm policy note above) —
    # on its OWN fresh session (see the isolation policy note above: the
    # reclaim()-between-entries protocol still let late-sweep rows
    # inflate up to 4x over their fresh-session truth; a recycled session
    # per entry makes the canonical row reproducible in isolation, the
    # same shape tools/measure.py records). The reclaim between the cold
    # and warm pass stays: checkpoint-heavy shapes otherwise record a
    # WARM figure slower than their cold one (x_scc_condensation 9.3
    # cold → 14.4 warm at sf0.1 — the warm run inherited its own cold
    # run's truncated-lineage blocks, VERDICT r7 #7's phantom).
    # Disk-published artifacts (centroid models, graph snapshots) were
    # primed above and persist across sessions; session memos
    # (SCC assignment, PQ codebooks, …) rebuild inside each entry's cold
    # pass — reproducibly, never crossing entries.
    cold: dict[str, float] = {}
    for name in batch_only:
        if name in specs:
            spark.stop()
            spark = get_spark("spark-graft-bench")
            spark.sparkContext.setLogLevel("ERROR")
            run("tpch_q6")  # per-session warmup, same as tools/measure.py
            reclaim(spark)
            record(name, cold, compiles_cold, jit_cold)
            reclaim(spark)
            record(name, timings, compiles, jit)

    # --- session recycle: the streaming block runs on a fresh session ---
    # (see stream_batch note above). The batch sweep's primed artifacts
    # (centroid models, graph snapshots) are disk/state the streaming
    # family never touches, so nothing needs re-priming; a single cheap
    # warmup covers the new context's scan/codegen setup outside the rows.
    spark.stop()
    spark = get_spark("spark-graft-bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    run("tpch_q6")

    for name in stream_batch:
        if name in specs:
            reclaim(spark)
            record(name, timings, compiles, jit)

    # Same reclaim before the micro-batch section (state stores compete
    # for the same executor memory).
    reclaim(spark, settle_sec=2.0)

    # Streaming micro-batch wall-clock (recorded alongside, NOT summed into
    # the headline total — the r1 baseline predates these entries and the
    # vs-baseline comparison must stay apples-to-apples).
    timings.update(run_streaming(spark, sf_dir))

    total = round(sum(timings[n] for n in HEADLINE if n in timings), 4)
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "sf": sf,
    }
    print(json.dumps(out))
    # Full-detail sidecar (VERDICT r14 next-round #1): everything the
    # stdout contract carries, in a file that cannot be tail-truncated.
    # Keyed by core count, so an 8-core pass never overwrites the 32-core
    # record.
    cpus = default_parallelism()
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         f"BENCH_DETAIL_c{cpus}.json"),
            "w",
        ) as f:
            json.dump(
                {
                    "cpus": cpus,
                    **out,
                    "codegen_compiles": compiles,
                    "codegen_compiles_cold": compiles_cold,
                    "jit_ms": jit,
                    "jit_ms_cold": jit_cold,
                },
                f,
            )
    except OSError:
        pass  # read-only checkout: stdout still carries the full record
    # Truncation-proof FINAL line (VERDICT r11 #2 / r14 next-round #1):
    # the driver's tail-capture keeps only the last ~2000 characters of
    # stdout (r08's 1.7 KB canonical line parsed; r10's+ did not), so the
    # last line must be a SMALL parseable record. It carries the contract
    # fields plus a `queries` map restricted to a FIXED rule-based subset
    # that fits the window: HEADLINE + every streaming-family entry +
    # every *_e2e composite. Membership is this code, identical every
    # run — the full map is on the first line and in BENCH_DETAIL_c*.json.
    summary_names = [
        n
        for n in timings
        if n in HEADLINE
        or re.match(r"^(s\d+_|stream_)", n)
        or n.endswith("_e2e")
    ]
    summary = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": {n: timings[n] for n in summary_names},
        "sf": sf,
        "headline_total": total,
    }
    print(final_summary_line(summary))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
