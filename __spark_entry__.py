"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship IOC pipeline at sf0.001 (smoke: rows > 0).
queries()      — every implemented operator from SURVEY.md §2 + north-star
                 extensions, as (spark, sf_dir) -> DataFrame callables.
oracle_sql()   — DuckDB-equivalent SQL per query (value-hash gate).

Queries/oracles are registered by the operator modules in
cybersecurity_ioc_etl_spark/operators/ via the @query decorator.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cybersecurity_ioc_etl_spark import operators as _ops  # noqa: E402

# Queries already driver-confirmed green in CORRECTNESS_r01..r07.
# The driver's correctness gate samples the FIRST 50 entries of queries()
# in iteration order, so we rotate: new round-7 queries land in the `mid`
# slot automatically (unchecked, not listed here), then high-value
# re-confirmations fill the window, pushing the driver-confirmed bulk to
# the tail.  As of r6 every registered query has a driver-issued green
# HASH row at least once (CORRECTNESS_r06: 50/50 green, including both
# restated sketch audits).
_DRIVER_CHECKED = frozenset(
    {
        # r14 window (CORRECTNESS_r14: 50/50 hash-green — the 3-row
        # _PRIORITY head, the 18 round-14 additions below, the 8-row r6
        # remainder, and 21 r7-latest re-confirmations already listed in
        # earlier windows)
        "tdigest_quantile_serve", "ql_dirichlet_retrieval",
        "neyman_stratified_sample", "trade_closeness_centrality",
        "events_bh_fdr_battery", "event_value_anova",
        "event_value_kruskal_wallis", "stream_bh_fdr_battery",
        "event_cmh_weekend_purchase", "stream_cmh_weekend_purchase",
        "event_value_jonckheere", "purchase_rate_wilson",
        "stream_jonckheere", "linkage_em_converged",
        "linkage_blocking_recall", "linkage_golden_records",
        "incremental_linkage_maintenance", "image_patch_stats",
        # r13 window (CORRECTNESS_r13: 50/50 hash-green — the 14 round-13
        # additions below + 36 oldest-first re-confirmations already
        # listed in earlier windows)
        "tdigest_merge_audit", "stream_bt_strengths", "events_sprt_monitor",
        "trade_louvain_converged_level", "retrieval_rbo_audit",
        "nn_graph_serve_recall_table", "knn_shapley_valuation",
        "stream_auc_ovr", "lang_classifier_cv_folds", "events_ks_emd_drift",
        "stream_ks_emd_drift", "event_type_dow_chisq",
        "customer_record_linkage", "linkage_em_round",
        # r12 window (CORRECTNESS_r12: 50/50 hash-green — the re-adjudicated
        # session_incident_overlap head, the 17 round-12 additions, and 32
        # oldest-first re-confirmations already listed in earlier windows)
        "session_incident_overlap", "stream_click_error_semi_join",
        "stream_conformal_coverage", "user_incident_exposure",
        "event_type_bt_strengths", "purchase_shapley_attribution",
        "events_mann_kendall", "stream_mann_kendall", "events_runs_test",
        "unigram_em_round", "trade_louvain_two_level",
        "trade_betweenness_khop", "trade_luby_mis", "nn_graph_serve_topk",
        "event_type_auc_ovr", "dp_event_histogram_release",
        "fairness_gap_audit", "stream_dp_histogram_release",
        # r11 window (CORRECTNESS_r11: 50/50 hash-green — the 12 round-11
        # additions + 38 oldest-first re-confirmations already listed in
        # earlier windows)
        "incremental_span_maintenance", "stream_span_maintenance",
        "stream_retractable_agg", "minmax_delete_repair",
        "conformal_value_coverage", "session_incident_overlap",
        "wordpiece_merge_step", "temperature_mixture_plan",
        "trade_louvain_move", "trade_louvain_contract",
        "nn_descent_round", "rq_encode_audit",
        # r10 window (CORRECTNESS_r10: 50/50 hash-green — the 12 round-10
        # additions + 38 oldest-first re-confirmations already listed in
        # earlier windows)
        "substring_dedup_spans", "retractable_agg_maintenance",
        "stream_dedup_evicting", "stream_scd2_enrich",
        "heavy_hitters_merge_audit", "stream_heavy_hitters_merge",
        "trade_label_communities", "trade_modularity_score",
        "eval_contamination_spans", "ivfpq_delete_compact_topk",
        "mmr_diversified_topk", "orders_psi_drift",
        # r9 window (CORRECTNESS_r09: 50/50 hash-green — the 17 round-9
        # additions + 33 oldest-first re-confirmations)
        "incremental_cc_maintenance", "incremental_join_maintenance",
        "stream_click_error_full_outer_join", "events_changepoint_tree",
        "quantile_summary_merge", "stream_session_append",
        "phrase_retrieval_topk", "ams_f2_audit",
        "priority_sample_merge_audit", "rendezvous_shard_audit",
        "supplier_degree_powerlaw", "sql_recursive_reach3",
        "personalized_pagerank_nations", "packing_efficiency_audit",
        "binary_quant_rerank_topk", "embedding_dbscan_clusters",
        "hilbert_layout_audit", "stream_dedup_unique_users",
        "media_dedup_groups", "frame_dedup_profile", "pagerank_nations",
        "minhash_band_pairs", "doc_bpe_token_estimate",
        "ann_hyperplane_buckets", "bigram_conditional_probs",
        "curation_pipeline", "dedup_keep_best", "doc_chunking",
        "doc_lang_stats", "doc_packing_bins", "eval_contamination",
        # r8 window (CORRECTNESS_r08: 50/50 hash-green — the 5 r7-deferred
        # priority rows, the 25 round-8 additions, and 20 oldest-first
        # re-confirmations already listed in earlier windows)
        "market_basket_lift", "funnel_three_step_strict",
        "session_path_counts", "trade_edge_churn",
        "sliding_24h_distinct_users",
        "winnowing_fingerprint_scores", "anchor_recall_audit",
        "lineitem_weighted_median", "incremental_agg_maintenance",
        "part_cosupply_pairs", "stream_click_error_outer_join",
        "events_holt_linear", "events_theil_sen", "events_forecast_backtest",
        "time_decay_attribution", "event_burstiness_index",
        "events_changepoint_split", "token_zipf_slope",
        "boolean_and_retrieval", "token_autocomplete_topk",
        "bootstrap_order_means", "trade_adamic_adar_links",
        "trade_temporal_reach", "trade_ktruss_edges", "ivfpq_rerank_topk",
        "ivfpq_compacted_topk", "embedding_centroid_drift",
        "stream_embedding_drift", "kmv_intersect_audit",
        "audio_silence_segments",
        # r7 window (CORRECTNESS_r07: 50/50 hash-green — the 46 round-7
        # additions below; the other 4 sampled rows were re-confirmations
        # already listed in earlier windows)
        "event_value_trend_ols", "substring_anchor_scores",
        "ioc_ip_prefix_rollup", "ioc_host_dga_scores",
        "ioc_typosquat_candidates", "event_transition_matrix",
        "events_ewma_half_life", "user_active_intervals",
        "event_dow_residuals", "event_value_quantile_normalized",
        "scd2_temporal_join", "linear_attribution_credits",
        "event_type_stationary_dist", "event_hourly_autocorrelation",
        "events_debounced_counts", "events_cusum_alarms",
        "user_survival_curve", "events_lttb_downsample",
        "cohort_ltv_triangle", "token_cooccurrence_pmi",
        "doc_readability_scores", "lang_token_fertility",
        "rake_keyword_scores", "greedy_coverage_docs",
        "trade_kcore_membership", "hits_hubs_authorities",
        "trade_degree_assortativity", "jl_projection_audit",
        "retrieval_dcg_audit", "asof_next_purchase_tolerance",
        "kmv_distinct_audit", "stream_kmv_merge", "rfm_customer_segments",
        "revenue_gini_concentration", "hll_register_audit",
        "stream_hll_merge", "orders_profile_drift", "k_anonymity_audit",
        "l_diversity_audit", "t_closeness_audit", "benford_price_audit",
        "zorder_layout_audit", "bloom_semijoin_audit", "stream_bloom_build",
        "audio_rms_profile", "video_scene_cuts",
        # r6 window (CORRECTNESS_r06: 50/50 hash-green — the 25 round-6
        # additions + the restated approx_value_percentiles; the other
        # 24 sampled rows were re-confirmations already listed below)
        "approx_value_percentiles", "incremental_neardup_new_batch",
        "ppjoin_doc_pairs", "cluster_safe_split", "boilerplate_segment_scrub",
        "events_ohlc_bars", "stream_ohlc_bars", "event_value_trend_ols",
        "events_twap", "event_value_mad_outliers", "countmin_token_audit",
        "bigram_lm_doc_scores", "bm25_more_like_this",
        "kneser_ney_doc_scores", "stream_countmin_merge",
        "hybrid_rrf_retrieval", "viterbi_segment_stats", "mixture_epoch_plan",
        "ivfpq_stored_topk", "ivfpq_upsert_topk", "ivf_filtered_topk",
        "pareto_frontier_parts", "stored_model_confusion",
        "classifier_margin_reliability", "media_dhash_groups",
        "media_dhash_neardup_pairs",
        # r5 window (CORRECTNESS_r05: 49 hash-green + approx_value_
        # percentiles rows-only — the latter now restated as a bound
        # audit WITH an oracle, so it heads _PRIORITY instead)
        "semdedup_prune", "dsir_importance_sample", "corpus_shard_shuffle",
        "lang_classifier_confusion", "stream_classify_confusion",
        "ioc_ip_block_enrichment", "trade_triangle_counts",
        "trade_bfs_distances", "source_overlap_matrix",
        "banding_recall_audit", "events_value_ztest", "cumulative_new_users",
        "corpus_token_budget", "dedup_keep_best_salted",
        "neardup_containment_pairs", "doc_novelty_scores",
        "ioc_first_last_seen", "stream_ioc_aging", "stream_value_outliers",
        "event_value_percentiles", "user_value_scd2",
        "event_value_winsorized", "value_equidepth_histogram",
        "bpe_n_merges", "bpe_encode_stats", "stream_mixture_sample",
        "ann_recall_audit", "ivf_trained_topk", "pq_codes",
        "ivfpq_adc_topk", "mrl_truncation_audit", "ivfpq_trained_topk",
        "embedding_power_iteration", "embedding_abtt_residuals",
        # r4 window (CORRECTNESS_r04: 49 hash-green + approx_distinct_parts
        # rows-only by design)
        "best_offer_per_part", "nation_profit_by_year",
        "dominant_part_suppliers", "forecast_revenue_change",
        "important_stock_shape", "quantity_tier_counts",
        "returnflag_linestatus_pivot", "order_price_quartiles",
        "similar_part_names", "part_token_profile", "grouping_sets_revenue",
        "lineitem_stats_by_flag", "approx_distinct_parts",
        "salted_source_profile", "customer_spend_rank", "rolling_30d_spend",
        "order_gap_days", "orders_column_profile", "lineitem_integrity_audit",
        "asof_click_before_purchase", "click_error_range_join",
        "events_sessionize", "events_native_sessions", "events_json_props",
        "events_type_pivot", "events_dow_hour_profile",
        "events_hourly_gapfill", "events_sliding_counts",
        "events_hourly_interpolated", "user_value_locf",
        "user_weekly_retention", "event_value_outliers",
        "funnel_click_purchase", "cdc_snapshot_fold", "doc_length_histogram",
        "stream_static_category_counts", "stream_session_counts",
        "stream_click_error_join", "stream_neardup_signature_groups",
        "neardup_keep_canonical", "corpus_segment_dedup",
        "incremental_dedup_new_docs", "events_variant_stats",
        "doc_repetition_scores", "tfidf_doc_similarity_pairs",
        "bpe_pair_counts", "bpe_merge_step", "bpe_two_merges",
        "kmeans_two_rounds", "stream_ann_topk",
        # r1/r2 window
        "ioc_flagship", "ioc_type_counts", "ioc_per_source_daily",
        "tweet_batch_pipeline", "ioc_classify", "enrichment_scraped_iocs",
        "ioc_url_hosts", "stream_stateful_type_totals", "ioc_allowlist_filtered",
        "unified_ioc_table", "ioc_validation_counts", "pricing_summary",
        "filter_project_revenue", "top_orders", "segment_sales",
        "brand_quantity", "region_nation_revenue", "customers_with_open_orders",
        "customers_without_orders", "top_order_per_customer",
        "customer_running_spend", "monthly_order_stats",
        "rollup_region_nation_customers", "cube_status_priority",
        "distinct_suppliers_per_flag", "open_not_finished_customers",
        "both_status_customers", "big_brands", "parts_above_brand_avg",
        "priority_return_counts", "promo_revenue_share", "part_name_tokens",
        "shipping_priority", "large_volume_customers", "customer_order_leftjoin",
        "nation_presence_fulljoin", "order_fulfillment_lag",
        "first_last_order_price", "part_measure_unpivot",
        "customer_order_timeline", "returned_never_accepted",
        "nation_trade_flows", "returned_item_customers",
        "disjunctive_promo_revenue", "customer_order_distribution",
        "market_share_by_year", "late_shipment_priority_counts",
        "top_revenue_supplier", "supplier_count_by_part_attrs",
        "idle_rich_customers",
        # r3 window
        "ann_bucketed_topk", "ann_hyperplane_buckets",
        "bigram_conditional_probs", "curation_pipeline", "dedup_components",
        "dedup_exact_groups", "dedup_keep_best", "dedup_keep_first",
        "deterministic_sample", "doc_bpe_token_estimate", "doc_chunking",
        "doc_fingerprint", "doc_lang_id", "doc_lang_stats",
        "doc_packing_bins", "doc_pii_scrub", "doc_quality",
        "doc_shingle_profile", "doc_tf_map", "doc_token_stats",
        "embedding_int8_quantize", "embedding_lsh_neardup_pairs",
        "embedding_neardup_pairs", "eval_contamination", "events_hourly",
        "frame_dedup_profile", "inverted_index_postings",
        "ivf_multiprobe_topk", "ivf_topk", "kmeans_lloyd_step",
        "knn_cosine_topk", "label_centroid_norms", "media_byte_profile",
        "media_dedup_groups", "minhash_band_pairs",
        "minhash_jaccard_estimate", "minhash_signatures",
        "neardup_jaccard_pairs", "pagerank_nations", "simhash_neardup_pairs",
        "simhash_signatures", "source_mixture_sample", "stratified_sample_k",
        "stream_dedup_unique_users", "stream_hourly_counts",
        "tfidf_top_terms_per_doc", "top_terms", "train_val_test_split",
        "vector_norms", "weighted_priority_sample",
    }
)

# Head of the rotation: queries whose OUTPUT CHANGED or whose plan was
# rewritten, and which therefore need a fresh driver hash despite being
# in _DRIVER_CHECKED.  r16: the r15 fold rewrites (collected Louvain
# fold, cfg-tagged beam chain) were only checked locally, so the
# driver re-hashes one representative of each.
_PRIORITY: list[str] = [
    "trade_louvain_two_level", "nn_graph_serve_recall_table",
]

# High-value re-confirmations filling leftover window slots after the
# head + any new round-15 queries.  Recency recomputed from the r1-r14
# CORRECTNESS JSONs at r15 open: latest-green distribution is r7×29,
# r8×50, r9×50, r10×50, r11×49, r12×50, r13×47, r14×50.  This window
# finishes the r7-latest remainder (29 rows, alphabetical from
# hits_hubs_authorities) then starts the r8-latest tranche (first 21 of
# 50, alphabetical).  Optimization rounds add no queries; behind the
# r16 2-row _PRIORITY head the gate's 50-row cut lands at
# funnel_three_step_strict, so incremental_agg_maintenance,
# inverted_index_postings and the r8 remainder (29 rows from
# ivf_multiprobe_topk) roll to the next window.
_RECONFIRM = [
    # r7-latest remainder (29 rows, alphabetical)
    "hits_hubs_authorities", "hll_register_audit",
    "ioc_host_dga_scores", "ioc_ip_prefix_rollup",
    "ioc_typosquat_candidates", "jl_projection_audit", "k_anonymity_audit",
    "kmv_distinct_audit", "l_diversity_audit", "lang_token_fertility",
    "linear_attribution_credits", "orders_profile_drift",
    "rake_keyword_scores", "retrieval_dcg_audit",
    "revenue_gini_concentration", "rfm_customer_segments",
    "scd2_temporal_join", "stream_bloom_build", "stream_hll_merge",
    "stream_kmv_merge", "substring_anchor_scores", "t_closeness_audit",
    "token_cooccurrence_pmi", "trade_degree_assortativity",
    "trade_kcore_membership", "user_active_intervals",
    "user_survival_curve", "video_scene_cuts", "zorder_layout_audit",
    # r8-latest tranche (first 21 of 50, alphabetical)
    "anchor_recall_audit", "ann_bucketed_topk", "audio_silence_segments",
    "boolean_and_retrieval", "bootstrap_order_means", "dedup_components",
    "deterministic_sample", "doc_fingerprint", "doc_lang_id",
    "doc_quality", "doc_token_stats", "embedding_centroid_drift",
    "embedding_lsh_neardup_pairs", "event_burstiness_index",
    "events_changepoint_split", "events_forecast_backtest",
    "events_holt_linear", "events_theil_sen", "funnel_three_step_strict",
    "incremental_agg_maintenance", "inverted_index_postings",
]

# Unchecked queries deliberately deferred past this round's window
# (none yet for r15 — add here if the window fills past 50).
# ROUND-16 ROTATION NOTE: fold the 50 names the r15 CORRECTNESS gate
# sampled (run `list(queries())[:50]` to confirm against
# CORRECTNESS_r15.json — as of round-15 close the window is exactly the
# _RECONFIRM list above: the 29-row r7-latest remainder plus the first
# 21 rows of the r8-latest tranche, no head and no new queries since
# r15 was an optimization round) into _DRIVER_CHECKED, clear _PRIORITY
# unless an oracle changed, promote any _DEFER entries, continue
# _RECONFIRM oldest-first with the r8-latest remainder (29 rows,
# alphabetical from ivf_multiprobe_topk) plus the start of the
# r9-latest tranche (alphabetical), and keep head + new <= 50.
_DEFER: list[str] = []


def _ordered(names: list[str]) -> list[str]:
    head = [n for n in _PRIORITY if n in names]
    seen = set(head)
    mid = [
        n
        for n in names
        if n not in seen and n not in _DRIVER_CHECKED and n not in _DEFER
    ]
    seen.update(mid)
    reconfirm = [n for n in _RECONFIRM if n in names and n not in seen]
    seen.update(reconfirm)
    deferred = [n for n in _DEFER if n in names and n not in seen]
    seen.update(deferred)
    tail = [n for n in names if n not in seen]
    return head + mid + reconfirm + deferred + tail


def entry(spark: SparkSession) -> DataFrame:
    """Flagship extract-normalize pipeline (SURVEY.md §7.2) on sf0.001."""
    return _ops.QUERIES["ioc_flagship"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _ops.QUERIES[k] for k in _ordered(list(_ops.QUERIES))}


def oracle_sql() -> dict[str, str]:
    order = _ordered(list(_ops.QUERIES))
    return {k: _ops.ORACLES[k] for k in order if k in _ops.ORACLES}
