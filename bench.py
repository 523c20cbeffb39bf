"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {...}, "sf": ..., "n_queries": N}.

The driver captures only a bounded tail of stdout (BENCH_r01.json was
truncated at ~2 KB and failed to parse), so the printed line carries just
the 10 slowest per-query timings; the FULL per-query breakdown is written
to BENCH_DETAIL.json next to this script.

Every lane times its runs with ``timed_runs``: each run builds the frame,
forces it with a noop write (full pipeline execution, no driver collect)
and then releases the caches the query pinned. The statistic is the min
of all runs, the codegen run included; the median goes to the detail
file as the noise bound.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from go_streams_spark.session import get_spark
from go_streams_spark.queries import QUERIES
from go_streams_spark.plans import release_tracked

BENCH_QUERIES = [
    # reference-operator surface
    "q1_pricing_summary",
    "map_project",
    "filter_predicate",
    "flatmap_words",
    "reduce_running_max",
    "fold_running_sum",
    "tumbling_window_events",
    "sliding_window_events",
    "session_window_events",
    "split_merge_branches",
    "fanout_merge",
    "batch_by_count",
    "throttler_discard",
    "per_user_rate_limit",
    # relational (joins / windows / set ops)
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q12_shipmode_priority",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q13_customer_distribution",
    "q19_disjunctive_revenue",
    "semi_anti_join_customers",
    "top_orders_per_customer",
    "keyed_tumbling_window",
    "set_ops_users",
    "json_props_extract",
    "pandas_udaf_weighted_avg",
    "zip_distributed_full",
    "asof_join_purchases",
    "interval_join_purchase_context",
    "rollup_status_priority",
    "cube_status_flag_metrics",
    "count_min_freq_estimates",
    "salted_agg_user_totals",
    "percentiles_by_flag",
    "percentiles_by_flag_hist",
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q16_supplier_part_counts",
    "q20_excess_shippers",
    "q21_waiting_suppliers",
    "sql_surface_market_share",
    # training-data pipeline ops
    "text_stats",
    "tfidf_top_terms",
    "curation_pipeline",
    "dedup_exact",
    "dedup_minhash_pairs",
    "simhash_docs",
    "simhash64_near_pairs",
    "embedding_knn",
    "ann_filtered_recall_audit",
    "hard_negatives_by_label",
    "semdedup_prune",
    "kcenter_coreset_select",
    "kcenter_cover_summary",
    "margin_mining_pairs",
    "margin_mining_pairs_ann",
    "zipf_tail_fit",
    "heaps_vocab_growth",
    "dedup_containment_pairs",
    "percentiles_by_flag_distributed",
    "ann_sign_lsh",
    "ann_sign_lsh_multiprobe",
    "ann_ivf_knn",
    "ann_query_vector_topk",
    "rrf_fused_ann",
    "pq_adc_topk",
    "ann_pq_rerank",
    "ann_ivf_pq",
    "ann_recall_report",
    "ann_ndcg_report",
    "text_normalize_docs",
    "cep_funnel_pattern",
    "jl_project_embeddings",
    "skew_advisor_user_key",
    "setsim_prefix_pairs",
    "html_strip_docs",
    "pii_scrub_docs",
    "compression_ratio_docs",
    "training_shuffle_docs",
    "token_budget_selection",
    "blocklist_filter_docs",
    "winnowing_fingerprints",
    "minhash_quality_report",
    "mrl_truncation_eval",
    "winnowing_overlap_pairs",
    "bpe_fertility_by_lang",
    "image_bmp_decode_features",
    "image_dhash_neardup_pairs",
    "audio_wav_decode_features",
    "video_avi_frame_sample",
    "multimodal_features_real_bmp",
    "bootstrap_ci_tokens",
    "bootstrap_ci_tokens_by_source",
    "fd_violation_events",
    "cusum_changepoint_hourly",
    "salted_join_events",
    "bloom_join_prune_audit",
    "url_canonical_dedup",
    "theilsen_slope_by_type",
    "quantile_normalize_sources",
    "benford_price_audit",
    "observed_ingest_metrics",
    "measure_correlation_matrix",
    "corpus_dataset_card",
    "token_bucket_admissions",
    "rowgroup_pruning_audit",
    "dsir_importance_weights",
    "nb_quality_classifier",
    "negative_sampling_pairs",
    "next_event_training_pairs",
    "leakage_safe_split",
    # neardup_keep_best / dedup_components stay registry-only: same CC
    # pipeline leakage_safe_split already benches
    "temperature_mixture_sample",
    "unimax_budget_allocation",
    "ewma_value_by_user",
    "merge_upsert_customers",
    "audio_pcm_features",
    "k_anonymity_audit",
    "l_diversity_audit",
    "corpus_content_fingerprint",
    "embedding_second_moments",
    "embedding_mahalanobis_outliers",
    "pca_whiten_embeddings",
    "procrustes_alignment_drift",
    "isotonic_quality_calibration",
    "type_token_diversity",
    "psi_drift_report",
    # stream_join_view_purchase stays registry/oracle-only: like every
    # stream_* query it pays multi-second fixed trigger/state-store
    # startup that swamps sf0.1 data work — the bench line measures
    # batch pipeline throughput (no stream_* query is benched)
    "gopher_repetition_stats",
    "data_quality_report",
    "vocab_top_tokens",
    "resample_fill_forward",
    "feature_moments",
    "decontaminate_ngram_overlap",
    "decontaminate_containment",
    "decontaminate_bloom",
    "bm25_search_topk",
    "duplicate_span_profile",
    "duplicate_span_removal",
    "chunk_dedup_reassembly",
    "label_centroids",
    "windowed_distinct_users",
    "anomaly_zscore_events",
    "stratified_split_docs",
    "trending_topk_users",
    "part_pair_cooccurrence",
    "triangle_count_parts",
    "k_core_parts",
    "lpa_communities_parts",
    "pagerank_part_graph",
    "pagerank_part_graph_shuffle",
    "pagerank_weighted_parts",
    "scd2_user_state_history",
    "bigram_lm_counts",
    "bigram_lm_doc_scores",
    "ccnet_ppl_buckets",
    "token_window_chunks",
    "cdc_latest_state_per_user",
    "sequence_packing_batches",
    "embedding_quantize_int8",
    "sq_int8_recall_audit",
    "bpe_first_merges",
    "bpe_train_merge_table",
    "keyed_batch_stats",
    "quality_rank_normalized",
    "chi2_token_lang",
    "time_rollup_revenue",
    # mad_outlier_stats (exact two-pass median) stays in the registry as
    # the correctness pin; the bench headline is the histogram-sketch
    # variant — the bucketed-CDF plan a 100 TB cluster actually runs
    "mad_outlier_stats_hist",
    "incremental_agg_merge",
    "equidepth_price_histogram",
    "fuzzy_name_match_pairs",
    "entity_resolution_clusters",
    "ab_test_welch",
    "embedding_norm_stats",
    "referential_integrity_audit",
    "snapshot_diff_users",
    "time_decay_engagement",
    "rolling_correlation_series",
    "hourly_peak_detection",
    "topn_sum_via_arrayagg",
    "out_of_order_audit",
    "readability_flesch",
    "trend_slope_by_type",
    "revenue_gini_concentration",
    "cross_source_vocab_overlap",
    "interarrival_latency_profile",
    "char_entropy_by_source",
    "weighted_median_price",
    "longest_activity_streak",
    "pagination_orders_page3",
    "log_domain_means_by_lang",
    "multi_distinct_aggregates",
    "ordered_string_agg_users",
    "event_pair_lift",
    "mom_revenue_growth",
    "weekly_churn_rate",
    "session_path_topk",
    "new_vs_returning_orders",
    "pivot_multi_agg_metrics",
    "conversion_latency_stats",
    "cohort_retention_weekly",
    "dow_seasonality_residuals",
    # round-7 session-2 additions
    "zorder_layout_audit",
    "record_linkage_fs",
    "audio_dft_band_energy",
    "mmr_diverse_topk",
    "ann_ivf_balance_audit",
    "image_png_decode_features",
    "link_prediction_parts",
    "dedup_method_eval",
    "incremental_join_maintenance",
    "attribution_credit",
    "unigram_lm_segment",
    "wordpiece_segment_report",
    "tokenizer_fertility_compare",
    "dp_noisy_event_counts",
    "holt_linear_hourly",
    "holt_winters_hourly",
    "hw_anomaly_hourly",
    "kaplan_meier_conversion",
    "graph_random_walks",
    "markov_attribution",
    "rake_keyphrases",
    "offpolicy_ips_eval",
    "conformal_calibration",
    "offpolicy_dr_eval",
    "diff_in_diff_value",
    # round-8 additions: the formerly-unbenched registry tail (VERDICT r7
    # task #4 — no silent caps). Everything registered is now either
    # benched here, benched in the streaming lane, or excluded with a
    # recorded reason; tests/test_bench_coverage.py asserts the
    # three-way partition covers the registry exactly.
    "setsim_pairs_lsh",
    "approx_distinct_users",
    "cogroup_user_activity",
    "cumulative_user_growth",
    "deterministic_sample_docs",
    "doc_fingerprint",
    "domain_quota_sample",
    "embedding_near_dup_lsh",
    "fd_holds_orders",
    "fold_python_per_key",
    "funnel_view_click_purchase",
    "join_fanout_profile",
    "key_uniqueness_profile",
    "kmv_audience_overlap",
    "kmv_distinct_users",
    "lang_id_counts",
    "ltv_decile_profile",
    "markov_transitions",
    "mean_ci_by_type",
    "mixture_sample_docs",
    "modal_event_type_per_user",
    "null_semantics_groupby",
    "outlier_filtered_stats",
    "pivot_priority_counts",
    "price_histogram",
    "q4_order_priority",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q22_idle_rich_customers",
    "quality_scores",
    "range_frame_rolling_revenue",
    "retention_cohorts",
    "rfm_segments",
    "round_robin_buckets",
    "seasonality_dow_hour",
    "sentence_stats",
    "udtf_word_positions",
    "union_by_name_evolution",
    "unpivot_lineitem_measures",
    "weighted_sample_docs",
    "dp_user_level_counts",
    "ks_drift_events",
    "compaction_bin_packing",
    # round-9 additions: the sampled production twins of the quadratic
    # eval-audit class (deterministic 200-query md5 pick vs full index —
    # the shape a 1e9-vector deployment runs; the unsampled originals
    # stay benched at this SF where they clear the FLOP budget guard)
    "embedding_knn_sampled",
    "ann_filtered_recall_audit_sampled",
    "ann_recall_report_sampled",
    "ann_ndcg_report_sampled",
    "sq_int8_recall_audit_sampled",
    "ccnet_ppl_buckets_sampled",
]

# Structured Streaming lane: availableNow trigger wall-time per query.
# Benched separately (2 runs, own detail section) because each pays
# multi-second fixed trigger/state-store/checkpoint startup that is real
# streaming cost but incomparable with the batch headline total.
STREAMING_BENCH = [
    "stream_batch_parity_tumbling",
    "stream_parity_sliding",
    "stream_parity_session",
    "stream_parity_keyed_tumbling",
    "stream_fold_running_sum",
    "stream_dedup_event_pairs",
    "stream_join_view_purchase",
    "cep_stream_funnel",
    "hw_stream_hourly",
]

# Registry queries deliberately NOT benched, each with its reason — the
# exclusion list is data in BENCH_DETAIL.json, never a silent cap.
EXCLUDED = {
    "array_functions_sampler": "function-surface correctness sampler; sub-second, no plan shape the benched set lacks",
    "boolean_aggregates_sampler": "function-surface correctness sampler; sub-second, no plan shape the benched set lacks",
    "scalar_function_sampler": "function-surface correctness sampler; sub-second, no plan shape the benched set lacks",
    "window_functions_sampler": "function-surface correctness sampler; sub-second, no plan shape the benched set lacks",
    "batch_collect_flatten": "deliberately driver-bounded collect-and-flatten contract pin; benching would time the collect the engine forbids in hot paths",
    "bpe_encode_corpus": "encode stage benched inside bpe_fertility_by_lang (same Arrow encode path + one extra agg)",
    "cep_error_burst": "same sessionize-once + regex-per-session plan as benched cep_funnel_pattern",
    "dedup_components": "same MinHash->connected-components pipeline benched via leakage_safe_split",
    "neardup_keep_best": "same MinHash->connected-components pipeline benched via leakage_safe_split",
    "embedding_near_dup": "exact O(N^2)-FLOP contract (quadratic by design); benched production sibling is embedding_near_dup_lsh",
    "mad_outlier_stats": "exact two-pass-median correctness pin; the benched headline is mad_outlier_stats_hist (bucketed-CDF plan a cluster runs)",
    "map_python_udf": "UDF-path parity pin (byte-identical to map_project); the benched path is the JVM projection",
    "minhash_signatures": "sub-stage of benched dedup_minhash_pairs (signatures only, no join)",
    "pq_encode_codes": "sub-stage of benched ann_ivf_pq / pq_adc_topk (codes only, no search)",
    "simhash64_docs": "sub-stage of benched simhash64_near_pairs (hashes only, no band join)",
    "simhash_near_pairs": "32-bit twin of benched simhash64_near_pairs, but 5.6x its cost: 13.8 s warm at sf0.1 on 4 cores against 2.5 s, because its 7 pigeonhole bands of 4-5 bits give 30.3M candidate pairs before distinct (2.4x the 12.5M pairs among 5,000 docs)",
    "text_redact_pii": "same regex-scrub plan class as benched pii_scrub_docs",
    "multimodal_meta": "binary-plumbing pin with deterministic fake codec; real-codec twin multimodal_features_real_bmp is benched",
    "multimodal_features": "binary-plumbing pin with deterministic fake codec; real-codec twin multimodal_features_real_bmp is benched",
    "multimodal_resize": "binary-plumbing pin with deterministic fake codec; real-codec twin image_bmp_decode_features is benched",
    "multimodal_frame_sample": "binary-plumbing pin with deterministic fake codec; real-codec twin video_avi_frame_sample is benched",
    "pass_through": "identity projection — times only the parquet scan every benched query already pays",
    "reduce_final_global": "single-row global reduce; same scan+agg as benched q6_forecast_revenue",
    "zip_with_padding": "ordinal-zip contract pin; distributed variant zip_distributed_full is benched",
}


def timed_runs(build, runs: int) -> list[float]:
    """Wall seconds of ``runs`` runs of the frame ``build()`` returns.

    The clock starts before ``build()``, so jobs a query runs eagerly
    while its frame is built are timed too, and stops after the noop
    write. ``release_tracked()`` then frees the caches the run pinned
    (``track_persist``), so every run executes the same program and none
    reads partitions an earlier run cached.

    Callers report the min of the runs. Host load only ever adds time,
    so the fastest run is the closest to the query's own cost; run 1
    also pays Janino + JIT compilation of the generated code (2-10x,
    nondeterministic in a long-lived session), which later runs skip.
    """
    times: list[float] = []
    for _ in range(runs):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
        release_tracked()
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("go-streams-spark-bench")
    # warm the JVM + parquet footers once so timings measure the queries
    timed_runs(partial(QUERIES[BENCH_QUERIES[0]], spark, sf_dir), 1)

    # Single-node pipeline THROUGHPUT (events/sec): the reference's own
    # claim surface is element throughput through an operator chain, so
    # time the canonical Map -> Filter -> keyed tumbling-window pipeline
    # over the events table and report rows/sec. Measured FIRST, right
    # after warmup: running it after the full query sweep depressed the
    # number ~35% round-over-round (accumulated JVM/GC/codegen-cache
    # state), which made round-to-round throughput comparisons noise.
    from pyspark.sql import functions as F
    from go_streams_spark.queries import _t
    ev = _t(spark, sf_dir, "events")
    n_events = ev.count()
    # 7 timed passes for this single headline number (vs 3 for queries):
    # it has shown the most run-to-run variance (400k -> 183k events/s
    # across rounds 3-6 on UNCHANGED operator code — host load, not a
    # regression; r7->r8 median drifted 205k -> 189k inside the 5-run
    # spread, prompting the N>=7 bump so tools/bench_compare.py can
    # classify a median-over-median drop as noise vs signal). Record
    # the full sample so the spread is evidence, not anecdote: min is
    # the headline, median + all raw times go to BENCH_DETAIL.json as
    # the noise bound.
    pipe_times = timed_runs(
        lambda: (ev
                 .withColumn("v2", F.col("value") * 2)          # Map
                 .where(F.col("v2") > 0)                        # Filter
                 .groupBy("user_id", F.window("ts", "1 hour"))  # Keyed window
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("v2").alias("s"))),
        7)
    best_pipe = min(pipe_times)
    med_pipe = sorted(pipe_times)[len(pipe_times) // 2]
    events_per_sec = int(n_events / best_pipe) if best_pipe > 0 else 0
    events_per_sec_median = int(n_events / med_pipe) if med_pipe > 0 else 0

    # Min-of-N per query (default 3, override SPARK_GRAFT_BENCH_RUNS):
    # round-over-round per-query ratios at min-of-2 swung 1.2-1.3x on
    # unchanged plans, at the edge of hiding a real regression.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    for name in BENCH_QUERIES:
        sample = sorted(timed_runs(partial(QUERIES[name], spark, sf_dir),
                                   runs))
        timings[name] = round(sample[0], 3)
        # min vs median gap = host-load noise bound for THIS query in
        # THIS bench window; round-over-round deltas smaller than the
        # typical gap are noise, not plan regressions
        spread[name] = {"min": round(sample[0], 3),
                        "median": round(sample[len(sample) // 2], 3)}

    # Streaming lane: availableNow wall time, min-of-2 (run 1 pays state
    # store + checkpoint dir creation on top of codegen; the floor is
    # still dominated by fixed trigger startup at sf0.1 — that fixed
    # cost is the honest number for a streaming micro-batch).
    stream_timings: dict[str, float] = {}
    for name in STREAMING_BENCH:
        sample = timed_runs(partial(QUERIES[name], spark, sf_dir), 2)
        stream_timings[name] = round(min(sample), 3)
    stream_total = round(sum(stream_timings.values()), 3)

    unaccounted = sorted(set(QUERIES) - set(BENCH_QUERIES)
                         - set(STREAMING_BENCH) - set(EXCLUDED))

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    detail = None
    with open(detail_path, "w") as f:
        detail = {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "cpus": cpus,
                "n_queries": len(timings),
                "runs_per_query": runs,
                "pipeline_events_per_sec": events_per_sec,
                "pipeline_events_per_sec_median": events_per_sec_median,
                "pipeline_times_sec": [round(t, 3) for t in pipe_times],
                "n_events": n_events,
                "queries": timings,
                "spread": spread,
                "streaming_lane_total_sec": stream_total,
                "streaming_queries": stream_timings,
                "excluded": EXCLUDED,
                "unaccounted": unaccounted,
                "registry_count": len(QUERIES),
        }
        json.dump(detail, f, indent=1, sort_keys=True)
    # Per-cpus copy (r10, VERDICT r9 #5): BENCH_DETAIL.json is
    # overwritten by whichever run executed last, which clobbered the
    # 32-core detail with the driver's 8-core rerun in r9 — keep a
    # core-count-keyed copy alongside so scaling pairs survive.
    with open(detail_path.replace(".json", f"_c{cpus}.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # Keep the printed line small (driver tail-truncates ~2 KB): summary
    # fields + only the 10 slowest queries inline; full detail on disk.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf_val,
        "n_queries": len(timings),
        "n_streaming": len(stream_timings),
        "streaming_lane_sec": stream_total,
        "n_excluded": len(EXCLUDED),
        "runs_per_query": runs,
        "pipeline_events_per_sec": events_per_sec,
        "pipeline_events_per_sec_median": events_per_sec_median,
        "detail_file": "BENCH_DETAIL.json",
    }))


if __name__ == "__main__":
    main()
