"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line {"metric", "value", "unit", "queries", "sf"} — kept
under the driver's 2000-char stdout tail capture. The full-fidelity
result (3-decimal timings + the full-inventory sweep) is written to
BENCH_full.json next to this script.

Each query is forced end-to-end with the noop sink (full computation,
no driver materialization cost in the measurement).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from libmr_spark.core.layout import materialised  # noqa: E402
from libmr_spark.queries import QUERIES  # noqa: E402
from libmr_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "kv_scan",
    "kv_count",
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q17_small_quantity_revenue",
    "q8_market_share",
    "q9_profit_by_nation_year",
    "q12_priority_lines",
    "q13_order_count_distribution",
    "q19_disjunctive_revenue",
    "join_broadcast_dims",
    "window_topk_per_group",
    "window_running_sum",
    "orderby_limit_topk",
    "tumbling_window_events",
    "sessionize_events",
    "retention_cohorts",
    "rolling_7d_active_users",
    "event_funnel",
    "asof_join_events",
    "json_extract_events",
    "wordcount_top100",
    "sample_hash_10pct",
    "train_val_test_split",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_winnowing",
    "dedup_embedding_cosine",
    "knn_bruteforce",
    "knn_lsh",
    "text_lang_id",
    "text_quality_score",
    "text_fingerprint",
    "decontaminate_ngram_overlap",
    "pii_redact_stats",
    "quality_gopher_rules",
    "text_repetition_stats",
    "tfidf_top_terms",
    "embedding_quantize_int8",
    "sink_partitioned_roundtrip",
    "events_gap_fill_ffill",
    "events_latest_per_user",
    "session_window_stats",
    "window_percent_rank_cume",
    "revenue_share_window",
    "dense_rank_ties",
    "histogram2d_hour_value",
    "salted_join_revenue_by_status",
    "text_edit_distance_pairs",
    "kv_scan_pyds",
    # round-5 batch-construction additions (SURVEY §7.2a)
    "sequence_packing",
    "length_bucketed_batching",
    "vocab_coverage_cutoff",
    "sample_k_per_group",
    # round-5 training-pipeline additions (queries_pipeline.py)
    "dedup_exact_substring",
    "domain_mixture_resample",
    "bpe_merge_pairs",
    "fluency_bigram_deciles",
    "sink_merge_upsert",
    "streaming_rolling_extremes",
    "sink_compaction_roundtrip",
    "sink_sorted_skipping_roundtrip",
    "incremental_agg_refresh",
    "heavy_hitters_2pass",
    "hist_percentiles_mergeable",
    "interval_overlap_sessions",
    "triangle_count_copurchase",
    "scd2_customer_segments",
    "sink_zorder_skipping_roundtrip",
    "sink_idempotent_retry",
    "dpp_partitioned_agg",
    "streaming_pattern_view_purchase",
    "distinct_users_rolling_hll",
    "sink_retention_vacuum",
    "contamination_matrix",
    "curriculum_assignment",
    "runtime_bloom_join",
    "trend_slope_by_type",
    "snapshot_diff_orders",
    "kv_write_pyds",
    "streaming_pyds_resume",
    "dedup_simhash_md5",
    "streaming_kv_sink",
    "variant_extract_props",
    "dedup_incremental_exact",
    "train_pipeline_e2e",
    "reachability_recursive_cte",
    "lateral_topk_per_customer",
    "ab_welch_t_by_type",
    "streaming_merge_apply",
    "table_audit_hash",
    "dedup_keep_best",
    # round-6 additions (context-window chunking, epoch shuffle,
    # distributed prefix-sum file splits)
    "doc_chunking_overlap",
    "dataset_epoch_shuffle",
    "token_budget_file_splits",
    "dedup_incremental_minhash",
    "leakage_safe_split",
    "streaming_incremental_dedup",
    "time_decayed_user_score",
    "dedup_incremental_embedding",
    # round-7 additions (store lifecycle + tokenizer-aware prep)
    "sequence_packing_subword",
    "dedup_incremental_embedding_int8",
    "knn_lsh_candidates",
    "dedup_incremental_minhash_compacted",
    "token_id_encoding",
    "quality_classifier_hashed",
    "streaming_incremental_embedding",
    "boilerplate_ngram_coverage",
    "incremental_agg_retract",
    "dedup_incremental_minhash_deleted",
    "streaming_agg_retract",
    # round-7 second tranche (store time travel, mixture derivation,
    # exact-kmeans SemDeDup, watermark accounting, PIT features,
    # cascade audit, dataset card)
    "incremental_store_time_travel",
    "mixture_temperature_weights",
    "semantic_dedup_kmeans",
    "streaming_late_data_accounting",
    "feature_pit_assembly",
    "filter_cascade_audit",
    "dataset_card_stats",
    "knn_pq_adc",
    "quality_weighted_sample",
    "fuzzy_match_parts_blocked",
    # round-7 third tranche (retrieval exact twins + serving stores,
    # BPE training loop, OHLC downsample)
    "knn_ivf_exact",
    "embedding_pca_power",
    "bm25_topk",
    "bm25_index_incremental",
    "streaming_bm25_index",
    "ann_index_incremental",
    "bm25_cosine_rerank",
    "bpe_train_merges",
    "events_ohlc_hourly",
    "collocation_pmi_top",
    # round-8 additions (serve-after-takedown, quantizer re-train,
    # CDC-retractable OHLC, multi-pass ER, cut-list spans, retrieval
    # eval, incremental clusters)
    "bm25_index_deleted",
    "ann_index_deleted",
    "ann_index_retrained",
    "streaming_ohlc_hourly",
    "fuzzy_match_parts_multipass",
    "dedup_substring_spans",
    "retrieval_recall_eval",
    "dedup_clusters_incremental",
    "dedup_substring_rewrite",
    "dedup_clusters_deleted",
    "cluster_store_time_travel",
    "bm25_ndcg_eval",
    "ann_drift_monitor",
    "dedup_spans_incremental",
    "dedup_spans_deleted",
    "streaming_drift_retrain",
    "streaming_snm_er",
    "crossencoder_rerank",
    # round-8 second tranche (hybrid fusion, streaming clusters, ops
    # dashboard, int8 ANN serving twin)
    "hybrid_rrf_fusion",
    "streaming_dedup_clusters",
    "store_ops_dashboard",
    "ann_index_int8",
    "hybrid_store_rrf",
    "hybrid_store_deleted",
    "mmr_diversity_rerank",
    "collocation_pmi_incremental",
    "collocation_pmi_retracted",
    "cluster_quota_sample",
    "streaming_hybrid_index",
    "hybrid_store_mmr",
    "collocation_pmi_compacted",
    "quota_sampled_export",
    "ops_dashboard_drift",
    # round-9 additions (fleet takedown, streaming ops feed, export
    # manifest, fleet snapshot, policy maintenance)
    "takedown_everywhere_audit",
    "streaming_ops_metrics",
    "quota_export_manifest",
    "fleet_snapshot_reads",
    "policy_maintenance_pass",
    # perf-set member: its wall is the 5 training rounds + the encode
    # pass (plan work); the store machinery is two manifest commits
    "bpe_store_encode_pinned",
    "quota_export_diff",
    "ann_index_filtered",
    "streaming_span_store",
    "streaming_vocab_cdc",
    "hybrid_store_asof",
    "streaming_takedown_feed",
    "export_manifest_updated",
    "policy_maintenance_log",
    "ann_index_filtered_auto",
    # round-9 join-MV store (delta-join IVM): all four are lifecycle
    # soaks (five manifest commits each before the serve)
    "matview_join_incremental",
    "matview_join_retracted",
    "matview_agg_join",
    "matview_compacted",
    "streaming_matview_join",
    "matview_cascade",
    "matview_integrity_audit",
    "matview_outer_serve",
    "matview_change_feed",
    "matview_full_outer",
    "matview_schema_evolution",
    "decontamination_store",
    "matview_backfill_subscriber",
    "matview_zonemap_lookup",
    "kanon_stats_release",
    "matview_multi_view",
    "subword_min_segmentation",
    # round-10: unigram-LM EM tokenizer training (perf set — pure
    # train+segment plan work, no store commits)
    "unigram_lm_em",
    # round-10: schema evolution on the exact-dedup store (lifecycle
    # soak: two ingests + compaction + takedown before the serve)
    "dedup_store_schema_evolution",
    # round-10: zone-mapped point serving on the signature stores
    # (lifecycle soak: ingests + takedown + zoned compaction + serve)
    "exact_store_zonemap_lookup",
    # round-10: seeded-geometric DP counter release (perf set — one
    # aggregation tree + scalar expressions)
    "dp_count_release",
    "dp_sum_release",
    "kanon_dp_release",
    # round-11: payload schema evolution on the vocab docs CDC log
    # (lifecycle soak: three ingests + mergeSchema compaction + serve)
    "vocab_store_payload_evolution",
    # round-11: InternalCommand parity gate (perf set — one
    # per-partition command fan-out + reply parse)
    "kv_internal_command",
    # round-11: public-domain DP release (perf set — broadcast domain
    # frame + one aggregation tree)
    "dp_count_release_domain",
    # round-11: transformWithStateInPandas under the gate (lifecycle:
    # a 3-micro-batch streaming drain — checkpoint-bound at toy SF)
    "streaming_tws_user_stats",
    # round-11: contrastive hard-negative mining (perf set — one
    # tokenize pass + shortlist-bounded windows)
    "hard_negative_mining",
    # round-11: zoned-layout invariance for the near-dup store
    # (lifecycle soak: three ingests + zoned compaction + admission)
    "dedup_minhash_zoned_admission",
    # round-11: DSIR importance resampling (perf set — one corpus
    # explode + bucket-bounded broadcast + TakeOrdered top-k)
    "dsir_importance_resample",
    # round-11: T5 span-corruption examples (perf set — one posexplode
    # + one per-doc aggregate)
    "span_corruption_examples",
    # round-11: TWS MapState/ListState drain (lifecycle: streaming
    # checkpoint machinery, same exclusion as the value-state gate)
    "streaming_tws_event_profile",
    # round-11: word2vec negative-sampling table + equi-join draws
    # (perf set — vocab-bounded construction, broadcast slot table)
    "negative_sampling_draws",
    # round-11: user-level DP via contribution bounding (perf set —
    # user-keyed capping windows + one aggregation tree)
    "dp_user_level_release",
    # round-11: observe() side-channel metrics (perf set — one corpus
    # pass, metrics ride the action)
    "observed_quality_metrics",
    # round-11: mapInArrow int8 quantization (perf set — one scalar
    # aggregate + shuffle-free Arrow pass)
    "embedding_quantize_arrow",
    # round-11: applyInArrow grouped trimmed mean (perf set — one
    # group-keyed shuffle, numpy per group)
    "trimmed_mean_arrow",
    # round-11: ICLM semantic packing (perf set — JVM integer-plane
    # LSH, one bounded-group partition + Arrow fold)
    "semantic_packing_iclm",
]

# Store-LIFECYCLE queries: each one bootstraps a manifest store with
# multiple commits and then drives rewrites/deletes/serves (or drains a
# file stream through foreachBatch into such a store). At toy SF their
# wall is dominated by commit machinery — manifest swaps, per-batch
# parquet writes, checkpoints — not by query-plan work, so they are
# REPORTED separately and excluded from the perf gate total (VERDICT r8
# #7: 38 such soaks were drowning the 2x signal). The perf set below
# (HEADLINE minus this) is what the cross-round 2x gate tracks.
LIFECYCLE = {
    "dedup_store_schema_evolution",
    "exact_store_zonemap_lookup",
    "vocab_store_payload_evolution",
    # 3-micro-batch RocksDB-state streaming drain: wall is checkpoint
    # machinery, not plan work — same exclusion rationale as the
    # store-commit soaks
    "streaming_tws_user_stats",
    "streaming_tws_event_profile",
    "dedup_minhash_zoned_admission",
    "streaming_matview_join",
    "matview_cascade",
    "matview_integrity_audit",
    "matview_outer_serve",
    "matview_join_incremental",
    "matview_join_retracted",
    "matview_agg_join",
    "matview_compacted",
    "matview_change_feed",
    "matview_full_outer",
    "matview_schema_evolution",
    "decontamination_store",
    "matview_backfill_subscriber",
    "matview_zonemap_lookup",
    "matview_multi_view",
    "dedup_incremental_exact",
    "dedup_incremental_minhash",
    "dedup_incremental_minhash_compacted",
    "dedup_incremental_minhash_deleted",
    "dedup_incremental_embedding",
    "dedup_incremental_embedding_int8",
    "incremental_store_time_travel",
    "incremental_agg_retract",
    "streaming_incremental_dedup",
    "streaming_incremental_embedding",
    "streaming_agg_retract",
    "streaming_bm25_index",
    "bm25_index_incremental",
    "bm25_index_deleted",
    "ann_index_incremental",
    "ann_index_deleted",
    "ann_index_retrained",
    "ann_index_int8",
    "ann_drift_monitor",
    "streaming_drift_retrain",
    "streaming_ohlc_hourly",
    "streaming_snm_er",
    "streaming_dedup_clusters",
    "streaming_hybrid_index",
    "dedup_clusters_incremental",
    "dedup_clusters_deleted",
    "cluster_store_time_travel",
    "dedup_spans_incremental",
    "dedup_spans_deleted",
    "dedup_substring_rewrite",
    "hybrid_store_rrf",
    "hybrid_store_deleted",
    "hybrid_store_mmr",
    "collocation_pmi_incremental",
    "collocation_pmi_retracted",
    "collocation_pmi_compacted",
    "cluster_quota_sample",
    "quota_sampled_export",
    "store_ops_dashboard",
    "ops_dashboard_drift",
    "takedown_everywhere_audit",
    "streaming_ops_metrics",
    "quota_export_manifest",
    "fleet_snapshot_reads",
    "policy_maintenance_pass",
    "quota_export_diff",
    "ann_index_filtered",
    "streaming_span_store",
    "streaming_vocab_cdc",
    "hybrid_store_asof",
    "streaming_takedown_feed",
    "export_manifest_updated",
    "policy_maintenance_log",
    "ann_index_filtered_auto",
}


# The compact stdout line's per-query map is PINNED to this set: the
# 49 names the round-11 line carried (the driver diffs compact lines
# across rounds, so the same names must appear every round — the old
# drop-the-fastest-until-it-fits rule made the set depend on timings
# and produced phantom "dropped" queries in PERF_r11 whenever a query
# got FASTER; VERDICT r11 #6). Every name here is in HEADLINE; the
# full-fidelity map for all ~220 headline + 322 full-sweep names is in
# BENCH_full.json. Never remove or rename an entry (driver contract) —
# adding is allowed only while the line stays under the 2000-char
# stdout capture.
COMPACT_QUERIES = [
    "streaming_pyds_resume",
    "dedup_incremental_minhash_compacted",
    "streaming_incremental_embedding",
    "dedup_incremental_minhash_deleted",
    "streaming_late_data_accounting",
    "dedup_clusters_incremental",
    "dedup_clusters_deleted",
    "cluster_store_time_travel",
    "dedup_spans_incremental",
    "dedup_spans_deleted",
    "streaming_drift_retrain",
    "streaming_dedup_clusters",
    "store_ops_dashboard",
    "hybrid_store_rrf",
    "hybrid_store_deleted",
    "mmr_diversity_rerank",
    "collocation_pmi_incremental",
    "cluster_quota_sample",
    "hybrid_store_mmr",
    "collocation_pmi_compacted",
    "quota_sampled_export",
    "ops_dashboard_drift",
    "takedown_everywhere_audit",
    "streaming_ops_metrics",
    "quota_export_manifest",
    "fleet_snapshot_reads",
    "policy_maintenance_pass",
    "quota_export_diff",
    "streaming_span_store",
    "export_manifest_updated",
    "policy_maintenance_log",
    "matview_join_incremental",
    "matview_join_retracted",
    "matview_agg_join",
    "matview_compacted",
    "streaming_matview_join",
    "matview_cascade",
    "matview_integrity_audit",
    "matview_outer_serve",
    "matview_change_feed",
    "matview_full_outer",
    "matview_schema_evolution",
    "decontamination_store",
    "matview_backfill_subscriber",
    "matview_zonemap_lookup",
    "matview_multi_view",
    "streaming_tws_user_stats",
    "dedup_minhash_zoned_admission",
    "streaming_tws_event_profile",
]


def calibrate(spark) -> float:
    """Fixed SPARK-SHAPED probe (shuffle + hash-agg over 20M synthetic
    rows on 32 input slices, min of 3) timed alongside the bench: this
    VM's throughput swings ±40% between runs, so cross-round per-query
    ratios need a machine-speed denominator — and the denominator must
    measure the thing being normalized.  The previous numpy-matmul
    probe drifted with BLAS threading independently of Spark (round-9
    finding: 0.15 s vs the historical 0.33-0.50 band while query
    walls were steady), so round 10 replaced it with a probe that
    exercises the same codegen + exchange + aggregation path the
    gated queries run.  Secondary cross-check only:
    scripts/bench_compare.py's PRIMARY denominator is the median raw
    ratio over common queries (see BASELINE.md "gate scope")."""
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        (
            spark.range(0, 20_000_000, 1, 32)
            .selectExpr("id % 100000 AS k", "id AS v")
            .groupBy("k")
            .agg({"v": "sum", "*": "count"})
            .selectExpr("sum(`sum(v)`) AS t", "sum(`count(1)`) AS m")
            .collect()
        )
        best = min(best, time.time() - t0)
    return round(best, 4)


FULL_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json")


def _prior_timings() -> dict:
    """Last run's per-query walls (BENCH_full.json) — the noise-guard
    baseline: a query measuring >3x its prior wall gets ONE extra run
    before reporting, because on this VM a 3x excursion is far more
    often scheduler noise than a real regression (round 4/5 analysis:
    +-40 pct machine swing, zero true regressions among the flagged)."""
    try:
        with open(FULL_PATH) as f:
            pj = json.load(f)
        return dict((pj.get("full") or {}).get("queries") or pj.get("queries") or {})
    except Exception:  # noqa: BLE001 — first run has no baseline
        return {}


def _timed_run(fn, spark, sf_dir) -> float:
    """Seconds for one run of query ``fn`` to the noop sink, in its own
    ``materialised()`` scope (its release included)."""
    t0 = time.time()
    with materialised():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    prior = _prior_timings()
    spark = get_spark("bench")

    # warm the JVM/reader path once so measurements reflect steady state
    try:
        QUERIES["kv_count"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        print(f"# warmup failed: {e}", file=sys.stderr)

    # min of 2 runs per query: first run pays one-time Catalyst/codegen
    # JIT for the plan shape, which amortizes to zero at production
    # scale; min-of-N is the steady-state throughput the gate compares.
    # Each query is isolated: one broken query records an error entry
    # instead of killing the whole run (round 2 lost ALL perf data to a
    # single reader failure at query 17).
    # Each timed run is one materialised() scope: what a query freezes
    # is released when its run ends, so no run reads another's frozen
    # frames and the executors do not accumulate them.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    persistent_rdds = spark.sparkContext._jsc.getPersistentRDDs
    rdds_before = len(persistent_rdds())
    for name in HEADLINE:
        fn = QUERIES[name].fn
        best = float("inf")
        # lifecycle soaks run ONCE: their wall is store-commit
        # machinery (manifest swaps, per-batch parquet writes,
        # checkpoints), not JIT-sensitive plan work, and they are
        # excluded from the 2x gate — min-of-2 was burning ~40% of
        # the sweep re-measuring ungated fixed costs (VERDICT r10 #7)
        n_runs = 1 if name in LIFECYCLE else 2
        try:
            for _ in range(n_runs):
                best = min(best, _timed_run(fn, spark, sf_dir))
            if name in prior and best > 3 * prior[name]:
                # noise-guard re-run (see _prior_timings)
                best = min(best, _timed_run(fn, spark, sf_dir))
            timings[name] = round(best, 3)
            print(f"# {name}: {timings[name]}s", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — isolation is the point
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            print(f"# {name}: ERROR {errors[name][:120]}", file=sys.stderr)

    # two reported groups (BASELINE.md "gate scope"): the perf total is
    # the 2x gate's number; lifecycle soaks are reported alongside but
    # not gated (their wall is store-commit machinery at toy SF)
    perf_total = round(sum(v for k, v in timings.items() if k not in LIFECYCLE), 3)
    lifecycle_total = round(sum(v for k, v in timings.items() if k in LIFECYCLE), 3)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "perf_total_sec": perf_total,
        "perf_n_queries": sum(1 for k in timings if k not in LIFECYCLE),
        "lifecycle_total_sec": lifecycle_total,
        "lifecycle_n_queries": sum(1 for k in timings if k in LIFECYCLE),
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calib_spark_sec": calibrate(spark),
    }
    if errors:
        out["errors"] = errors

    # Full-inventory sweep: rotated-out queries can silently regress if
    # only the headline is timed, so by default every exported query
    # also gets one timed end-to-end run (failure-isolated). Headline
    # names reuse their min-of-2 time; the rest run once. Disable with
    # SPARK_GRAFT_BENCH_FULL=0 (quick local iterating on the headline).
    if os.environ.get("SPARK_GRAFT_BENCH_FULL", "1") != "0":
        full_timings: dict[str, float] = dict(timings)
        full_errors: dict[str, str] = dict(errors)
        for name, q in QUERIES.items():
            if name in full_timings or name in full_errors:
                continue
            try:
                best = _timed_run(q.fn, spark, sf_dir)
                if name in prior and best > 3 * prior[name]:
                    best = min(best, _timed_run(q.fn, spark, sf_dir))  # noise-guard re-run
                full_timings[name] = round(best, 3)
                print(f"# full {name}: {full_timings[name]}s", file=sys.stderr)
            except Exception as e:  # noqa: BLE001 — isolation is the point
                full_errors[name] = f"{type(e).__name__}: {e}"[:500]
                print(f"# full {name}: ERROR {full_errors[name][:120]}", file=sys.stderr)
        out["full"] = {
            "total_sec": round(sum(full_timings.values()), 3),
            "n_queries": len(full_timings),
            "queries": full_timings,
        }
        if full_errors:
            out["full"]["errors"] = full_errors
    # the scopes above leave no frozen frame behind: after == before
    out["persisted_rdds"] = {"before": rdds_before, "after": len(persistent_rdds())}

    # The driver stores only the LAST 2000 chars of stdout and parses
    # the final JSON line — round 4's full-inventory sweep made the
    # single line ~10x that and BENCH_r04 recorded `parsed: null`
    # (a perf round that lost its own headline evidence). So: the
    # full-fidelity dict goes to BENCH_full.json next to this script,
    # and stdout gets ONE compact line whose per-query map is the
    # PINNED set above — same names every round, so the driver's
    # round-over-round diff has no phantom drops (VERDICT r11 #6).
    with open(FULL_PATH, "w") as f:
        json.dump(out, f)
        f.write("\n")

    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "perf_total_sec": perf_total,
        "lifecycle_total_sec": lifecycle_total,
        # a pinned name that errored stays on the line as an explicit null
        "queries": {
            k: round(timings[k], 2) if k in timings else None
            for k in COMPACT_QUERIES
            if k in timings or k in errors
        },
        "sf": out["sf"],
        "calib_spark_sec": out["calib_spark_sec"],
    }
    if "full" in out:
        compact["full_total_sec"] = out["full"]["total_sec"]
        compact["full_n_queries"] = out["full"]["n_queries"]
    if errors:
        compact["n_errors"] = len(errors)
    compact["queries_omitted"] = len(timings) - sum(v is not None for v in compact["queries"].values())
    # last-resort guard: the pinned set fits with margin today, but a
    # pathological slowdown adds digits — drop fastest before losing
    # the whole line to the capture window (an errored name's null is
    # kept: it is the evidence)
    timed = [k for k, v in compact["queries"].items() if v is not None]
    while len(json.dumps(compact)) > 1900 and timed:
        fastest = min(timed, key=compact["queries"].get)
        timed.remove(fastest)
        del compact["queries"][fastest]
        compact["queries_omitted"] += 1
    print(json.dumps(compact))
    # always rc=0 with the JSON line emitted: a partial run with an
    # "errors" map is infinitely more useful to the gate than rc=1 with
    # no parse (what round 2 produced)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
