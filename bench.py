#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from cybersecurity_ioc_etl_spark.session import get_spark

# headline set: one per operator family, the ones whose plans matter at scale
HEADLINE = [
    "ioc_flagship",
    "ioc_type_counts",
    "enrichment_scraped_iocs",
    "doc_pii_scrub",
    "pricing_summary",
    "region_nation_revenue",
    "shipping_priority",
    "large_volume_customers",
    "segment_sales",
    "top_order_per_customer",
    "top_orders",
    "grouping_sets_revenue",
    "lineitem_stats_by_flag",
    "click_error_range_join",
    "events_hourly",
    "events_sessionize",
    "doc_token_stats",
    "doc_bpe_token_estimate",
    "dedup_exact_groups",
    "dedup_keep_first",
    "train_val_test_split",
    "media_dedup_groups",
    "doc_chunking",
    "eval_contamination",
    "minhash_band_pairs",
    "simhash_neardup_pairs",
    "knn_cosine_topk",
    "ivf_topk",
    "curation_pipeline",
    "kmeans_lloyd_step",
    "pagerank_nations",
    "kmeans_two_rounds",
    "ann_bucketed_topk",
    "corpus_segment_dedup",
    "bpe_merge_step",
    "tfidf_doc_similarity_pairs",
    "semdedup_prune",
    "dsir_importance_sample",
    "dedup_keep_best_salted",
    "bpe_n_merges",
    "ivf_trained_topk",
    "ann_recall_audit",
    "pq_codes",
    "ivfpq_adc_topk",
    "bpe_encode_stats",
    "neardup_containment_pairs",
    "event_value_percentiles",
    "user_value_scd2",
    "mrl_truncation_audit",
    "event_value_winsorized",
    "ioc_first_last_seen",
    "ivfpq_trained_topk",
    "embedding_power_iteration",
    "doc_novelty_scores",
    "embedding_abtt_residuals",
    "approx_value_percentiles",
    "value_equidepth_histogram",
    "approx_distinct_parts",
    "ivfpq_stored_topk",
    "stored_model_confusion",
    "ivfpq_upsert_topk",
    "countmin_token_audit",
    "bigram_lm_doc_scores",
    "bm25_more_like_this",
    "mixture_epoch_plan",
    "incremental_neardup_new_batch",
    "ppjoin_doc_pairs",
    "ivf_filtered_topk",
    "events_ohlc_bars",
    "kneser_ney_doc_scores",
    "pareto_frontier_parts",
    "event_value_trend_ols",
    "hybrid_rrf_retrieval",
    "cluster_safe_split",
    "events_twap",
    "viterbi_segment_stats",
    "event_value_mad_outliers",
    "classifier_margin_reliability",
    "media_dhash_groups",
    "media_dhash_neardup_pairs",
    "boilerplate_segment_scrub",
    # round-7 additions
    "event_transition_matrix",
    "events_ewma_half_life",
    "user_active_intervals",
    "event_dow_residuals",
    "kmv_distinct_audit",
    "jl_projection_audit",
    "retrieval_dcg_audit",
    "zorder_layout_audit",
    "bloom_semijoin_audit",
    "substring_anchor_scores",
    "audio_rms_profile",
    "ioc_ip_prefix_rollup",
    "ioc_host_dga_scores",
    "token_cooccurrence_pmi",
    "rfm_customer_segments",
    "event_value_quantile_normalized",
    "asof_next_purchase_tolerance",
    "scd2_temporal_join",
    "linear_attribution_credits",
    "orders_profile_drift",
    "event_type_stationary_dist",
    "revenue_gini_concentration",
    "k_anonymity_audit",
    "video_scene_cuts",
    "trade_kcore_membership",
    "l_diversity_audit",
    "hits_hubs_authorities",
    "trade_degree_assortativity",
    "t_closeness_audit",
    "event_hourly_autocorrelation",
    "doc_readability_scores",
    "lang_token_fertility",
    "rake_keyword_scores",
    "ioc_typosquat_candidates",
    "benford_price_audit",
    "events_debounced_counts",
    "greedy_coverage_docs",
    "events_cusum_alarms",
    "user_survival_curve",
    "events_lttb_downsample",
    "hll_register_audit",
    "stream_hll_merge",
    "cohort_ltv_triangle",
    "market_basket_lift",
    "funnel_three_step_strict",
    "session_path_counts",
    "trade_edge_churn",
    "sliding_24h_distinct_users",
    # round-8 additions
    "ivfpq_compacted_topk",
    "ivfpq_rerank_topk",
    "anchor_recall_audit",
    "winnowing_fingerprint_scores",
    "stream_click_error_outer_join",
    "events_holt_linear",
    "trade_adamic_adar_links",
    "token_zipf_slope",
    "lineitem_weighted_median",
    "incremental_agg_maintenance",
    "kmv_intersect_audit",
    "events_theil_sen",
    "boolean_and_retrieval",
    "events_forecast_backtest",
    "time_decay_attribution",
    "trade_temporal_reach",
    "embedding_centroid_drift",
    "stream_embedding_drift",
    "audio_silence_segments",
    "bootstrap_order_means",
    "trade_ktruss_edges",
    "token_autocomplete_topk",
    "part_cosupply_pairs",
    "event_burstiness_index",
    "events_changepoint_split",
    # round-9 additions
    "events_changepoint_tree",
    "quantile_summary_merge",
    "packing_efficiency_audit",
    "incremental_cc_maintenance",
    "stream_click_error_full_outer_join",
    "incremental_join_maintenance",
    "phrase_retrieval_topk",
    "stream_session_append",
    "ams_f2_audit",
    "supplier_degree_powerlaw",
    "binary_quant_rerank_topk",
    "sql_recursive_reach3",
    "hilbert_layout_audit",
    "priority_sample_merge_audit",
    "rendezvous_shard_audit",
    "embedding_dbscan_clusters",
    "personalized_pagerank_nations",
    # round-10 additions
    "substring_dedup_spans",
    "heavy_hitters_merge_audit",
    "trade_label_communities",
    "stream_dedup_evicting",
    "trade_modularity_score",
    "orders_psi_drift",
    "stream_heavy_hitters_merge",
    "eval_contamination_spans",
    "stream_scd2_enrich",
    "ivfpq_delete_compact_topk",
    "mmr_diversified_topk",
    "retractable_agg_maintenance",
    # round-11 additions
    "minmax_delete_repair",
    "trade_louvain_move",
    "incremental_span_maintenance",
    "nn_descent_round",
    "trade_louvain_contract",
    "rq_encode_audit",
    "stream_span_maintenance",
    "stream_retractable_agg",
    "wordpiece_merge_step",
    "temperature_mixture_plan",
    "conformal_value_coverage",
    "session_incident_overlap",
    # round-12 additions
    "nn_graph_serve_topk",
    "trade_louvain_two_level",
    "stream_conformal_coverage",
    "user_incident_exposure",
    "event_type_bt_strengths",
    "trade_betweenness_khop",
    "dp_event_histogram_release",
    "purchase_shapley_attribution",
    "stream_click_error_semi_join",
    "unigram_em_round",
    "event_type_auc_ovr",
    "trade_luby_mis",
    "fairness_gap_audit",
    "stream_dp_histogram_release",
    "events_mann_kendall",
    "stream_mann_kendall",
    "events_runs_test",
    # round-13 additions
    "stream_bt_strengths",
    "stream_auc_ovr",
    "tdigest_merge_audit",
    "nn_graph_serve_recall_table",
    "events_ks_emd_drift",
    "knn_shapley_valuation",
    "trade_louvain_converged_level",
    "stream_ks_emd_drift",
    "customer_record_linkage",
    "linkage_em_round",
    "retrieval_rbo_audit",
    "events_sprt_monitor",
    "lang_classifier_cv_folds",
    "event_type_dow_chisq",
    # round-14 additions
    "tdigest_quantile_serve",
    "linkage_em_converged",
    "linkage_blocking_recall",
    "linkage_golden_records",
    "events_bh_fdr_battery",
    "event_value_anova",
    "event_value_kruskal_wallis",
    "incremental_linkage_maintenance",
    "stream_bh_fdr_battery",
    "event_cmh_weekend_purchase",
    "stream_cmh_weekend_purchase",
    "event_value_jonckheere",
    "image_patch_stats",
    "trade_closeness_centrality",
    "ql_dirichlet_retrieval",
    "neyman_stratified_sample",
    "purchase_rate_wilson",
    "stream_jonckheere",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    spark = get_spark("ioc-etl-bench")
    spark.sparkContext.setLogLevel("WARN")
    queries = entrymod.queries()

    # JVM/codegen warmup: run EVERY headline plan shape once at the
    # smallest SF so per-query numbers measure the plan, not first-call
    # codegen compilation + JIT (cold-vs-warm is 5-10x for the regex
    # pipelines) + session setup.
    for name in HEADLINE:
        queries[name](spark, "/root/testdata/sf0.001").count()

    def _canary() -> float:
        # Host-noise canary (VERDICT r11 item 7): a fixed pure-JVM
        # workload — whole-stage-codegen sum over a 64M-row range, no
        # IO, no shuffle — whose cost depends only on host CPU state.
        # Measured first and last; the pair goes in the JSON so a
        # host-offset day (the r9/r11 driver-run signature: near-
        # uniform elevation across unrelated queries) is mechanically
        # detectable.  Interpretation rule in BASELINE.md §Canary.
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(1 << 26).selectExpr(
                "sum(id % 7) AS s"
            ).count()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    def _drop_checkpoints() -> None:
        # localCheckpoint blocks from completed queries accumulate in
        # executor memory across the (now 150+) headline list and turn
        # late-list measurements into GC noise (the lesson of
        # 72ef586:tools/skew_probe.py at bench scale: graph-family rows
        # measured 2-4x their floors only when run late in the
        # session).  Each query is
        # fully materialized before the next starts, so its persisted
        # RDDs are garbage — drop them between queries.  ASSUMPTION: no
        # headline query caches data for reuse ACROSS calls (none do; a
        # future one would be silently evicted and re-measured cold —
        # filter to checkpoint-originated RDDs if that ever changes).
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    canary_first = _canary()
    canary_mid = None
    mid_at = len(HEADLINE) // 2
    timings: dict[str, float] = {}
    for i, name in enumerate(HEADLINE):
        if i == mid_at:
            # Third probe at the list midpoint (BASELINE.md §Canary rule,
            # run-3-of-r12 lesson): a first/last pair can both read quiet
            # while a contention burst hits the MIDDLE of the 4-minute
            # run.  With three probes a contaminated segment is
            # localized (first..mid or mid..last) instead of the whole
            # run being discarded.
            canary_mid = _canary()
        fn = queries[name]
        # best-of-3: the steady-state plan cost, independent of which
        # query happens to pay residual first-run compilation or a GC
        # pause (the r3 kmeans/pagerank deltas were exactly that noise)
        best, n = float("inf"), 0
        for _ in range(3):
            _drop_checkpoints()
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    canary_last = _canary()
    total = round(sum(timings.values()), 4)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "cpus": int(cpus),
        "canary": {
            "first": canary_first, "mid": canary_mid, "last": canary_last,
        },
    }
    # Full per-query map: stderr + a repo-local file.  The driver's
    # stdout capture keeps only a ~2 KB tail, so the 154-entry dict was
    # truncating mid-JSON and BENCH_r{7,8} recorded "parsed": null —
    # stdout gets one COMPACT summary line instead (VERDICT r8 item 3).
    print(json.dumps(full), file=sys.stderr)
    # sf-suffixed path for non-default scale factors: a debugging run at
    # sf0.01 must not clobber the committed sf0.1 per-query record
    # (ADVICE r9 — the vs_floor guard below protects only the stdout
    # summary, not the file).
    full_name = (
        "BENCH_FULL.json"
        if abs(float(sf) - 0.1) < 1e-9
        else f"BENCH_FULL_sf{sf}.json"
    )
    here = os.path.dirname(os.path.abspath(__file__))
    out_path = os.path.join(here, full_name)
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    # Per-core-count copy (VERDICT r14 item 2): the driver benches the
    # SAME tree at a reduced core count, and that run used to overwrite
    # BENCH_FULL.json, destroying the full-core per-query map — PERF
    # came back with n_common=0 and an empty scaling block.  A
    # c{cpus}-suffixed sibling survives both runs so per-query deltas
    # and the per-query core-scaling ratio stay computable.  Pure
    # addition: stdout line, BENCH_FULL.json, and the timing
    # methodology are unchanged.
    core_path = os.path.join(
        here,
        f"BENCH_FULL_c{cpus}.json"
        if abs(float(sf) - 0.1) < 1e-9
        else f"BENCH_FULL_sf{sf}_c{cpus}.json",
    )
    with open(core_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")

    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "cpus": int(cpus),
        "n_queries": len(timings),
        "queries": f"see {os.path.basename(out_path)}",
        "queries_by_cpus": os.path.basename(core_path),
        "slowest10": {
            n: timings[n]
            for n in sorted(timings, key=timings.get, reverse=True)[:10]
        },
        "canary": {
            "first": canary_first, "mid": canary_mid, "last": canary_last,
        },
    }
    floors_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "FLOORS.json"
    )
    if os.path.exists(floors_path) and abs(float(sf) - 0.1) < 1e-9:
        with open(floors_path) as f:
            floors = json.load(f)
        ratios = sorted(
            (round(timings[n] / floors[n], 2), n)
            for n in timings
            if floors.get(n)
        )
        if ratios:
            mid = ratios[len(ratios) // 2][0]
            summary["vs_floor"] = {
                "median": mid,
                "max": ratios[-1][0],
                "n_over_2x": sum(1 for r, _ in ratios if r > 2.0),
                "worst5": {n: r for r, n in ratios[-5:]},
            }
            canary_ref = floors.get("__canary__")
            if canary_ref:
                # Read ALL probes (BASELINE.md §Canary rule): min() is
                # the optimistic bound; a SPLIT (some probe > 1.25x ref
                # while another reads quiet) marks a partially-contended
                # run whose per-row ratios are unadjudicated — the
                # mid probe localizes the contaminated segment
                # (first..mid vs mid..last) so only that half's rows
                # need re-measurement.
                probes = [
                    p for p in (canary_first, canary_mid, canary_last)
                    if p is not None
                ]
                summary["vs_floor"]["canary_vs_ref"] = round(
                    min(probes) / canary_ref, 2
                )
                summary["vs_floor"]["canary_vs_ref_max"] = round(
                    max(probes) / canary_ref, 2
                )
                summary["vs_floor"]["canary_split"] = (
                    max(probes) / canary_ref > 1.25
                    and min(probes) / canary_ref <= 1.25
                )
    # Lifecycle-row leg split (VERDICT r9 item 8): the two expensive
    # rows bundle an index/state BUILD with a cheap SERVE/REFRESH — one
    # stderr line each records the legs separately so a regression in
    # the production path isn't masked by the build leg.
    _drop_checkpoints()
    try:
        from cybersecurity_ioc_etl_spark.operators.dedup import (
            incremental_cc_fold,
        )
        from cybersecurity_ioc_etl_spark.operators.similarity import (
            build_ivfpq_upsert_segments,
            compact_ivfpq_segments,
            serve_ivfpq_stored,
        )
        from cybersecurity_ioc_etl_spark.sinks.bucketed import (
            bucket_filter_pruning,
        )

        t0 = time.perf_counter()
        incremental_cc_fold(spark, sf_dir).count()
        fold_s = time.perf_counter() - t0
        full_s = timings.get("incremental_cc_maintenance")
        # full_s can be None (query skipped/renamed) — print n/a, not
        # "Nones" (ADVICE r10).
        full_txt = f"{full_s:.3f}s" if full_s is not None else "n/a"
        print(
            f"# leg incremental_cc_maintenance: fold={fold_s:.3f}s"
            f" full_with_audit={full_txt}",
            file=sys.stderr,
        )
        _drop_checkpoints()
        import hashlib

        t0 = time.perf_counter()
        segments, cent = build_ivfpq_upsert_segments(spark, sf_dir)
        prefix = "ivfpqc_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        merged = compact_ivfpq_segments(spark, segments, f"{prefix}_merged")
        build_s = time.perf_counter() - t0
        serve_s = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            with bucket_filter_pruning(spark):
                serve_ivfpq_stored(spark, sf_dir, merged, cent).count()
            serve_s = min(serve_s, time.perf_counter() - t0)
        print(
            f"# leg ivfpq_compacted_topk: build_compact={build_s:.3f}s"
            f" serve={serve_s:.3f}s",
            file=sys.stderr,
        )
        # trade_modularity_score: LPA label build (training, rare) vs
        # the census served from the STORED label table (production
        # read path — VERDICT r10 item 6)
        from cybersecurity_ioc_etl_spark.operators.graph import (
            build_lpa_label_table,
            modularity_from_stored_labels,
        )

        lbl_table = (
            "lpa_lbl_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        )
        t0 = time.perf_counter()
        build_lpa_label_table(spark, sf_dir, lbl_table)
        lbl_build_s = time.perf_counter() - t0
        census_s = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            modularity_from_stored_labels(spark, sf_dir, lbl_table).count()
            census_s = min(census_s, time.perf_counter() - t0)
        print(
            "# leg trade_modularity_score:"
            f" label_build={lbl_build_s:.3f}s"
            f" census_serve={census_s:.3f}s",
            file=sys.stderr,
        )
    except Exception as exc:  # leg probes must never fail the bench
        print(f"# leg split skipped: {exc!r}", file=sys.stderr)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
