"""Physical-plan shape assertions — the scale contract, enforced.

Correctness tests prove the small-SF answer; these tests pin the PLAN
properties that decide whether the same query survives 100 TB: filters
pushed to the parquet scan, column pruning, broadcast joins on dimension
tables, distributed top-k (TakeOrderedAndProject, never a global sort),
two-phase aggregation, and no row-at-a-time Python in the hot path.
"""

from __future__ import annotations

import contextlib
import io

import __spark_entry__ as entrymod

from cybersecurity_ioc_etl_spark import plans as P

QUERIES = entrymod.queries()


def plan(spark, sf_dir, name: str, execute: bool = False) -> str:
    return P.formatted_plan(QUERIES[name](spark, sf_dir), execute=execute)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    p = plan(spark, sf_dir, "filter_project_revenue")
    assert P.has_pushed_filters(p)


def test_column_pruning_on_scan(spark, sf_dir):
    p = plan(spark, sf_dir, "filter_project_revenue")
    # lineitem has 11 columns; the revenue query must not read them all
    assert "l_returnflag" not in P.read_schema_columns(p)


def test_dimension_join_is_broadcast(spark, sf_dir):
    p = plan(spark, sf_dir, "region_nation_revenue")
    assert P.has_broadcast_join(p)


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    p = plan(spark, sf_dir, "top_orders")
    assert P.has_take_ordered_topk(p)


def test_knn_broadcasts_query_vector_and_uses_topk(spark, sf_dir):
    p = plan(spark, sf_dir, "knn_cosine_topk")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row query side, big side never shuffles


def test_flagship_pipeline_is_all_jvm(spark, sf_dir):
    """The IOC extract/refang/explode path must stay in codegen — a
    Python eval node here would be a 10-100x regression at scale."""
    p = plan(spark, sf_dir, "ioc_flagship", execute=True)
    assert P.is_all_jvm(p)
    assert "[codegen id :" in p  # whole-stage codegen spans present


def test_reply_cut_evaluated_once_per_message(spark, sf_dir):
    """Batch and stream extraction project the reply cut once and run
    the four IOC regexes against that column: the cut occurs once in
    each executed plan, not once per regex (a Generate has no
    subexpression elimination)."""
    from cybersecurity_ioc_etl_spark.functions.ioc import _REPLY_CUT

    for name in ("ioc_flagship", "tweet_batch_pipeline"):
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan()
        if executed.nodeName() == "AdaptiveSparkPlan":  # drop AQE's initial plan
            executed = executed.finalPhysicalPlan()
        assert executed.toString().count(_REPLY_CUT) == 1, name


def test_range_join_is_keyed_not_cartesian(spark, sf_dir):
    p = plan(spark, sf_dir, "click_error_range_join")
    assert "CartesianProduct" not in p
    assert (
        "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    )


def test_aggregation_is_two_phase(spark, sf_dir):
    """pricing_summary must partially aggregate map-side: two
    HashAggregate nodes around the exchange."""
    p = plan(spark, sf_dir, "pricing_summary")
    assert p.count("HashAggregate") >= 2


def test_ivf_probe_sides_are_broadcast(spark, sf_dir):
    p = plan(spark, sf_dir, "ivf_topk")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p  # centroid probe + query vector are tiny


def test_cached_frame_reused_by_second_consumer(spark, sf_dir):
    """When one IOC table feeds two actions (the batch pipeline's CSV and
    splunkkv forks: the write, then the run counts), caching it makes
    the second consumer an InMemoryTableScan instead of re-running
    extraction — the multi-consumer pattern at scale."""
    from cybersecurity_ioc_etl_spark.operators.ioc_queries import ioc_table

    cached = ioc_table(spark, sf_dir).cache()
    try:
        cached.count()  # materialize
        metrics = cached.groupBy("type").count()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            metrics.explain(mode="formatted")
        assert "InMemoryTableScan" in buf.getvalue()
    finally:
        cached.unpersist()


def test_queries_self_heal_foreign_session_confs(spark, sf_dir):
    """The driver may call queries() with a session built without
    session.get_spark() — missing the nanos-timestamp and UTC confs every
    query depends on.  The @query wrapper must re-assert them."""
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # events scan would throw PARQUET_TYPE_ILLEGAL without the conf
        assert QUERIES["events_hourly"](spark, sf_dir).count() > 0
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_q3_topk_and_broadcast(spark, sf_dir):
    """TPC-H Q3: the segment dim must broadcast and the final top-10 must
    be a distributed heap, not a global sort."""
    p = plan(spark, sf_dir, "shipping_priority")
    assert P.has_take_ordered_topk(p)
    assert P.has_broadcast_join(p)


def test_q18_having_side_broadcasts(spark, sf_dir):
    """TPC-H Q18: the HAVING-filtered survivor set (and the customer dim)
    must broadcast into orders — the only full shuffle is the lineitem
    pre-aggregation."""
    p = plan(spark, sf_dir, "large_volume_customers")
    assert P.has_broadcast_join(p, min_count=2)
    assert "SortMergeJoin" not in p


def test_split_assignment_is_narrow_single_shuffle(spark, sf_dir):
    """train/val/test assignment must be a pure narrow map over the scan:
    the only exchanges are the audit aggregation's (two rounds because of
    the COUNT(DISTINCT source) — both carry partial-agg rows, never the
    corpus), and no Python eval nodes."""
    p = plan(spark, sf_dir, "train_val_test_split")
    assert P.is_all_jvm(p)
    assert P.shuffle_count(p) <= 2
    # the scan reads only the 3 needed columns of 5
    assert "text" not in P.read_schema_columns(p)


def test_media_blob_dedup_stays_jvm(spark, sf_dir):
    """Binary content-hash dedup must hash blobs JVM-side — no Python
    stage, no decode."""
    p = plan(spark, sf_dir, "media_dedup_groups")
    assert P.is_all_jvm(p)


def test_q8_single_fact_shuffle_rest_broadcast(spark, sf_dir):
    """TPC-H Q8 shape: numerator and denominator ride ONE aggregation
    pass; every dim side broadcasts — the only shuffle joins are on the
    orderkey fact⋈fact edge."""
    p = plan(spark, sf_dir, "market_share_by_year")
    assert P.has_broadcast_join(p, min_count=4)


def test_q12_fact_fact_join_is_keyed_with_two_phase_agg(spark, sf_dir):
    """TPC-H Q12 shape: the cross-table date predicate must ride a KEYED
    orderkey join (post-join condition), never degrade to a cartesian;
    both CASE counts partial-aggregate map-side.  (At fixture scale AQE
    rightly broadcasts the smaller fact; at 100 TB the same plan shape
    shuffles both sides on orderkey.)"""
    p = plan(spark, sf_dir, "late_shipment_priority_counts")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join Inner" in p or "HashJoin" in p or "SortMergeJoin" in p
    assert p.count("HashAggregate") >= 2


def test_q15_quarter_filter_reaches_scan(spark, sf_dir):
    """TPC-H Q15: the shipdate quarter window must prune parquet
    row-groups; the global-max row and supplier dim broadcast."""
    p = plan(spark, sf_dir, "top_revenue_supplier")
    assert P.has_pushed_filters(p)
    assert P.has_broadcast_join(p, min_count=2)


def test_q16_denylist_is_broadcast_anti_join(spark, sf_dir):
    """TPC-H Q16 shape: the supplier denylist must anti-join as a
    broadcast — a shuffled anti join here would move the whole fact."""
    p = plan(spark, sf_dir, "supplier_count_by_part_attrs")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_q2_correlated_min_topk(spark, sf_dir):
    """TPC-H Q2 shape: the decorrelated min joins back on the SAME
    partkey exchange, dims broadcast, and the final 25 is a distributed
    heap."""
    p = plan(spark, sf_dir, "best_offer_per_part")
    assert P.has_take_ordered_topk(p)
    assert P.has_broadcast_join(p, min_count=3)


def test_q9_dims_broadcast_profit_single_agg(spark, sf_dir):
    """TPC-H Q9 shape: part/supplier/nation broadcast (part pruned by the
    name filter before shipping); profit sums in one two-phase agg."""
    p = plan(spark, sf_dir, "nation_profit_by_year")
    assert P.has_broadcast_join(p, min_count=3)
    assert p.count("HashAggregate") >= 2


def test_dedup_component_edges_are_banded_not_all_pairs(spark, sf_dir):
    """dedup_components' edge generation must be the banded pigeonhole
    bucket-join (equi-join on (band, bits)), never the all-pairs θ-join —
    the θ-join is O(n²) in documents and is the one plan that cannot
    survive 100 TB.  (The component query itself executes eagerly through
    localCheckpoint, so the edge plan is asserted directly.)"""
    from pyspark.sql import functions as F

    from cybersecurity_ioc_etl_spark.operators.dedup import (
        _HAMMING_T,
        simhash_agg,
        simhash_banded_candidates,
    )
    from cybersecurity_ioc_etl_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    cand = simhash_banded_candidates(simhash_agg(d, "doc_id", "text"))
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    edges = cand.filter(hamming <= _HAMMING_T - 1).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    p = P.formatted_plan(edges)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # the candidate join is keyed (band, bits) — an equi hash/merge join
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_q20_semi_chain_broadcasts_supplier_never_shuffles(spark, sf_dir):
    """TPC-H Q20 shape: the qualifying-supplier key list must reach
    supplier as a broadcast LeftSemi — supplier itself never shuffles."""
    p = plan(spark, sf_dir, "dominant_part_suppliers")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_ann_bucketed_topk_plan(spark, sf_dir):
    """Many-query ANN: the query batch and per-vector metadata broadcast
    into the corpus scan, candidate pairs exist only after the bucket
    equi-join (no cartesian / nested-loop), and the hot path is JVM."""
    p = plan(spark, sf_dir, "ann_bucketed_topk")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert P.has_broadcast_join(p, min_count=2)
    assert P.is_all_jvm(p)


def test_curation_pipeline_single_width_shuffle(spark, sf_dir):
    """The composed curation chain must keep the narrow gates ahead of
    the dedup window (so the fingerprint shuffle only sorts gate
    survivors), stay fully JVM, and never read the unused `lang`
    column."""
    p = plan(spark, sf_dir, "curation_pipeline")
    assert P.is_all_jvm(p)
    # fingerprint window + final per-source agg — nothing else
    assert P.shuffle_count(p) <= 2
    assert "lang" not in P.read_schema_columns(p)


def test_kmeans_centroid_sides_broadcast(spark, sf_dir):
    """Lloyd assignment must broadcast the k-row centroid structures into
    the corpus scan — shuffling the corpus BY centroid would be the
    non-scalable shape; distances compare exact integers JVM-side."""
    p = plan(spark, sf_dir, "kmeans_lloyd_step")
    assert "CartesianProduct" not in p
    assert P.has_broadcast_join(p, min_count=2)
    assert P.is_all_jvm(p)


def test_weighted_sample_is_distributed_topk(spark, sf_dir):
    """Priority sampling must be per-partition heaps feeding a merge
    (TakeOrderedAndProject) — a global sort of the corpus by priority
    would be the non-scalable shape."""
    p = plan(spark, sf_dir, "weighted_priority_sample")
    assert P.has_take_ordered_topk(p)
    assert P.is_all_jvm(p)


def test_q6_is_pure_scan_side_aggregate(spark, sf_dir):
    """TPC-H Q6: all three predicates reach the scan and the scalar agg
    needs no wide shuffle at all."""
    p = plan(spark, sf_dir, "forecast_revenue_change")
    assert P.has_pushed_filters(p)
    assert P.shuffle_count(p) == 0
    assert P.is_all_jvm(p)


def test_ivf_multiprobe_keeps_broadcast_probe_shape(spark, sf_dir):
    p = plan(spark, sf_dir, "ivf_multiprobe_topk")
    assert P.has_take_ordered_topk(p)
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p


def test_lsh_neardup_pairs_join_is_bucket_keyed(spark, sf_dir):
    """The UNBOUNDED embedding near-dup must generate pairs through the
    (bucket, dim) equi-join — never a cartesian or nested-loop over
    vectors."""
    p = plan(spark, sf_dir, "embedding_lsh_neardup_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p
    assert P.is_all_jvm(p)


def test_tfidf_pairs_broadcast_df_and_distributed_topk(spark, sf_dir):
    """Posting-join similarity: the df table and per-doc norms broadcast,
    pair generation is the term equi-join (never a cartesian), and the
    top-20 is a distributed TakeOrderedAndProject."""
    p = plan(spark, sf_dir, "tfidf_doc_similarity_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert P.has_broadcast_join(p)
    assert P.has_take_ordered_topk(p)
    assert P.is_all_jvm(p)


def test_bpe_rounds_are_topk_and_jvm(spark, sf_dir):
    """BPE pair census: map-side-combined word count + per-row symbol
    arrays; top-k never global-sorts; the merge step's winning pair is a
    broadcast, not a shuffle key."""
    for name in ("bpe_pair_counts", "bpe_merge_step"):
        p = plan(spark, sf_dir, name)
        assert P.has_take_ordered_topk(p), name
        assert "CartesianProduct" not in p, name
        assert P.is_all_jvm(p), name


def test_segment_dedup_shuffles_digests_not_text(spark, sf_dir):
    """Segment-level dedup must aggregate md5 digests (two-phase hash
    agg), never shuffle segment text: the exploded seg column is pruned
    to (digest, length) before the exchange."""
    p = plan(spark, sf_dir, "corpus_segment_dedup")
    assert P.is_all_jvm(p)
    assert p.count("HashAggregate") >= 2  # map-side combine on the digest


def test_repetition_scores_single_narrow_pass(spark, sf_dir):
    """Per-row repetition metrics must not shuffle at all beyond the
    fan-out repartition: no joins, no aggregates."""
    p = plan(spark, sf_dir, "doc_repetition_scores")
    assert "Join" not in p
    assert "HashAggregate" not in p
    assert P.is_all_jvm(p)


def test_semdedup_pairs_are_cluster_keyed_not_cartesian(spark, sf_dir):
    """SemDeDup's pair search must join on (cid, i) — candidate pairs
    only form WITHIN a cluster — with the tiny norm tables broadcast and
    everything in codegen.  A CartesianProduct here would be the
    corpus-squared plan the operator exists to avoid."""
    p = plan(spark, sf_dir, "semdedup_prune")
    assert "CartesianProduct" not in p
    assert P.has_broadcast_join(p)
    assert P.is_all_jvm(p)


def test_dsir_bucket_tables_broadcast_and_topk(spark, sf_dir):
    """DSIR scoring joins the corpus against the V-row bucket-count
    tables — those must broadcast (the corpus side never shuffles for
    the join) — and the final selection is distributed top-k."""
    p = plan(spark, sf_dir, "dsir_importance_sample")
    assert P.has_broadcast_join(p)
    assert P.has_take_ordered_topk(p)
    assert P.is_all_jvm(p)
    assert p.count("HashAggregate") >= 2  # bucket counts map-side combined


def test_shard_shuffle_is_single_exchange_no_join(spark, sf_dir):
    """The global training shuffle is one narrow map + ONE exchange
    partitioned by shard with a within-shard sort — never a global
    order, never a join."""
    p = plan(spark, sf_dir, "corpus_shard_shuffle")
    assert "Join" not in p
    assert P.shuffle_count(p) == 1
    assert P.is_all_jvm(p)


def test_lang_classifier_weight_grid_broadcasts(spark, sf_dir):
    """The V x classes weight grid must broadcast into the scoring join
    (the corpus side never shuffles for it), with per-(doc, class)
    sums map-side combined and no Python anywhere."""
    p = plan(spark, sf_dir, "lang_classifier_confusion")
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)
    assert p.count("HashAggregate") >= 2


def test_ip_block_enrichment_is_bucketed_range_join(spark, sf_dir):
    """The IP->block interval join must be a BroadcastHashJoin on the
    first-octet bucket with the BETWEEN residual as its condition —
    never a nested-loop over the IPs.  (The one BNLJ allowed is the
    256x4 constant cross that CONSTRUCTS the 1024-row block table.)"""
    p = plan(spark, sf_dir, "ioc_ip_block_enrichment")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # one BNLJ node = two mentions in formatted output (tree + detail)
    assert p.count("BroadcastNestedLoopJoin") <= 2  # block-table build only
    assert P.is_all_jvm(p)


def test_pq_family_broadcast_and_topk(spark, sf_dir):
    """PQ encode: codebooks broadcast, argmin is an aggregate (no
    window shuffle of the corpus beyond (vec, m)); ADC serving: the
    K*M lookup table broadcasts and the top-10 is distributed."""
    p = plan(spark, sf_dir, "pq_codes")
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)
    p = plan(spark, sf_dir, "ivfpq_adc_topk")
    assert P.has_broadcast_join(p)
    assert P.has_take_ordered_topk(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_ivf_trained_serving_shape(spark, sf_dir):
    """Trained IVF: centroid sides broadcast through every Lloyd round
    and the in-cell top-10 is a TakeOrderedAndProject."""
    p = plan(spark, sf_dir, "ivf_trained_topk")
    assert P.has_broadcast_join(p)
    assert P.has_take_ordered_topk(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_salted_keeper_is_aggregate_not_window(spark, sf_dir):
    """The skew-hardened keeper must plan as a two-phase aggregate —
    no Window node (that's the hot-key single-task shape it exists to
    avoid), partials map-side combined."""
    p = plan(spark, sf_dir, "dedup_keep_best_salted")
    assert "Window" not in p
    assert "partial_min" in p
    assert P.is_all_jvm(p)


def test_containment_pairs_shingle_equijoin(spark, sf_dir):
    """Containment pair generation is the shingle equi-join (same as
    Jaccard) — never a cartesian; sizes broadcast back."""
    p = plan(spark, sf_dir, "neardup_containment_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert P.has_broadcast_join(p)
    assert P.has_take_ordered_topk(p)
    assert P.is_all_jvm(p)


def test_percentiles_single_window_pass(spark, sf_dir):
    """Exact percentiles: ONE window shuffle on event_type (rank and
    count share the partitioning), then a map-side-combined aggregate."""
    p = plan(spark, sf_dir, "event_value_percentiles")
    assert p.count("Exchange hashpartitioning(event_type") <= 2
    assert P.is_all_jvm(p)


def test_scd2_windows_share_user_shuffle(spark, sf_dir):
    """SCD2 fold: the lag and lead windows must share the user_id
    partitioning — at most two exchanges on user_id, no extra."""
    p = plan(spark, sf_dir, "user_value_scd2")
    assert p.count("Exchange hashpartitioning(user_id") <= 2
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_ivfpq_stored_serve_path_zero_exchange(spark, sf_dir):
    """The persisted-index serve path (VERDICT r5 item 3): serving from
    the bucketed code table must be a bucket-pruned scan (1 of k bucket
    files via SelectedBucketsCount), per-row literal-array ADC, and a
    TakeOrderedAndProject — ZERO Exchange operators anywhere in the
    serve plan.  This is the physical build/serve split of a production
    vector store: no shuffle, no join, no re-encode at query time."""
    from cybersecurity_ioc_etl_spark.operators.similarity import (
        _KMEANS_K,
        build_ivfpq_index,
        serve_ivfpq_stored,
    )
    from cybersecurity_ioc_etl_spark.sinks.bucketed import (
        bucket_filter_pruning,
    )

    idx, cent = build_ivfpq_index(spark, sf_dir)
    try:
        # conf scope held open across the explain: bucket pruning is an
        # execution-time decision, so the plan must be produced inside
        with bucket_filter_pruning(spark):
            df = serve_ivfpq_stored(spark, sf_dir, idx, cent)
            assert df.count() > 0
            p = P.formatted_plan(df, execute=True)
        assert "Exchange" not in p
        assert f"SelectedBucketsCount: 1 out of {_KMEANS_K}" in p
        assert P.has_pushed_filters(p)
        assert P.has_take_ordered_topk(p)
        assert P.is_all_jvm(p)
        # the scope restored the session default on exit
        assert (
            spark.conf.get(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled"
            )
            == "true"
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")
        spark.sql(f"DROP TABLE IF EXISTS {cent}")


def test_countmin_sketch_is_bounded_aggregate(spark, sf_dir):
    """CM sketch: fixed d·w counter aggregate (map-side combined), the
    sketch side broadcast into the audit join, all JVM."""
    p = plan(spark, sf_dir, "countmin_token_audit")
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_bigram_lm_model_broadcasts_and_topk(spark, sf_dir):
    """LM scoring: the pair/context count tables (the model, bounded by
    the hashed vocabulary) broadcast into the held-out scoring pass;
    top-20 is distributed."""
    p = plan(spark, sf_dir, "bigram_lm_doc_scores")
    assert P.has_broadcast_join(p)
    assert P.has_take_ordered_topk(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_bm25_query_side_broadcasts_and_topk(spark, sf_dir):
    """BM25: query terms + df + corpus stats broadcast; the only corpus
    shuffles are the tf/dl aggregates; top-15 is distributed."""
    p = plan(spark, sf_dir, "bm25_more_like_this")
    assert P.has_broadcast_join(p)
    assert P.has_take_ordered_topk(p)
    assert P.is_all_jvm(p)


def test_epoch_plan_single_scan_broadcast_budget(spark, sf_dir):
    """Mixture planner: one token-count aggregation, 1-row budget
    broadcast, no extra corpus pass."""
    p = plan(spark, sf_dir, "mixture_epoch_plan")
    assert P.has_broadcast_join(p) or "BroadcastNestedLoopJoin" in p
    assert P.is_all_jvm(p)


def test_ivfpq_upsert_serves_segments_without_exchange(spark, sf_dir):
    """Segment-union serving: the upsert layout's serve plan must union
    TWO bucket-pruned segment scans with zero Exchange operators — the
    immutable-segment maintenance shape (union is not a shuffle)."""
    from cybersecurity_ioc_etl_spark.operators.similarity import (
        build_ivfpq_upsert_segments,
        serve_ivfpq_stored,
    )
    from cybersecurity_ioc_etl_spark.sinks.bucketed import (
        bucket_filter_pruning,
    )

    segs, cent = build_ivfpq_upsert_segments(spark, sf_dir)
    try:
        with bucket_filter_pruning(spark):
            df = serve_ivfpq_stored(spark, sf_dir, segs, cent)
            p = P.formatted_plan(df, execute=True)
        tail = p.split("TakeOrderedAndProject", 1)[-1]
        assert "Exchange" not in tail
        assert tail.count("SelectedBucketsCount: 1 out of") == 2  # both segments pruned
        assert "Union" in p
        assert P.has_take_ordered_topk(p)
    finally:
        for t in segs + [cent]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivfpq_segment_compaction_preserves_results(spark, sf_dir):
    """Compaction receipt: merging two immutable segments into one
    bucketed table via compact_ivfpq_segments (a pure
    read-union-rewrite, no retraining or re-encoding) must serve the
    IDENTICAL top-k, and the compacted serve plan is again a single
    bucket-pruned zero-Exchange scan — the plan shape the registered
    ivfpq_compacted_topk query ships."""
    import uuid

    from cybersecurity_ioc_etl_spark.operators.similarity import (
        _KMEANS_K,
        build_ivfpq_upsert_segments,
        compact_ivfpq_segments,
        serve_ivfpq_stored,
    )
    from cybersecurity_ioc_etl_spark.sinks.bucketed import (
        bucket_filter_pruning,
    )

    segs, cent = build_ivfpq_upsert_segments(spark, sf_dir)
    compacted = f"compact_{uuid.uuid4().hex[:8]}"
    try:
        compact_ivfpq_segments(spark, segs, compacted)
        with bucket_filter_pruning(spark):
            before = serve_ivfpq_stored(spark, sf_dir, segs, cent).collect()
            after_df = serve_ivfpq_stored(spark, sf_dir, compacted, cent)
            after = after_df.collect()
            p = P.formatted_plan(after_df, execute=True)
        assert sorted(map(tuple, before)) == sorted(map(tuple, after))
        assert len(after) == 10
        assert "Exchange" not in p
        assert f"SelectedBucketsCount: 1 out of {_KMEANS_K}" in p
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {compacted}")
        for t in segs + [cent]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ppjoin_is_equi_joins_all_jvm(spark, sf_dir):
    """Prefix-filter set-similarity join: every join is an equi-join
    (prefix-token candidates, array-verify fetch) — a Cartesian or
    nested-loop node here would mean the quadratic all-pairs plan the
    prefix filter exists to avoid."""
    p = plan(spark, sf_dir, "ppjoin_doc_pairs", execute=True)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert P.is_all_jvm(p)


def test_ivf_filtered_broadcasts_and_topk(spark, sf_dir):
    """Filtered ANN: centroid/query/probe/label sides all broadcast
    into the big-side scan, and the final k is TakeOrderedAndProject —
    the metadata predicate must not introduce a big-side shuffle."""
    p = plan(spark, sf_dir, "ivf_filtered_topk", execute=True)
    assert P.has_broadcast_join(p)
    assert P.has_take_ordered_topk(p)
    assert P.is_all_jvm(p)


def test_ivfpq_rerank_refine_is_broadcast_prune(spark, sf_dir):
    """Two-stage retrieval: the exact-refine stage must broadcast the
    50-row ADC shortlist into the component scan (no corpus-side
    shuffle for the semi-prune) and both stage cutoffs must be
    TakeOrderedAndProject — a sort or a shuffled refine join here
    would re-pay corpus cost for a 50-row rescoring."""
    p = plan(spark, sf_dir, "ivfpq_rerank_topk", execute=True)
    assert P.has_broadcast_join(p)
    assert P.has_take_ordered_topk(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_winnowing_is_one_doc_shuffle_all_jvm(spark, sf_dir):
    """Winnowing: gram hashing through ONE posexplode census and a
    per-doc ROWS window — all JVM, no cartesian; the array-side
    variant re-evaluated the gram lambda per window element (O(len²)
    md5 calls, measured 8.0 s vs 1.1 s at sf0.1)."""
    p = plan(spark, sf_dir, "winnowing_fingerprint_scores", execute=True)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_adamic_adar_broadcast_terms_topk(spark, sf_dir):
    """Link prediction: per-node 1/ln(deg) terms broadcast into the
    wedge census, top-20 via TakeOrderedAndProject, anti-join stays
    equi-keyed (no nested-loop complement scan)."""
    p = plan(spark, sf_dir, "trade_adamic_adar_links", execute=True)
    assert P.has_broadcast_join(p)
    assert P.has_take_ordered_topk(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_weighted_median_single_group_shuffle(spark, sf_dir):
    """Weighted median: the total and the running-sum window share the
    group-key shuffle; totals broadcast back — no second wide
    exchange of the fact."""
    p = plan(spark, sf_dir, "lineitem_weighted_median", execute=True)
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_boolean_retrieval_broadcasts_query_terms(spark, sf_dir):
    """Conjunctive retrieval: the 3 query terms broadcast into the
    postings aggregate — the big side never shuffles for the query
    side."""
    p = plan(spark, sf_dir, "boolean_and_retrieval", execute=True)
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_ohlc_bars_single_aggregation_pass(spark, sf_dir):
    """OHLC compaction is ONE map-side-combined aggregation: exactly
    one shuffle (the final agg exchange), SortAggregate expected (the
    argmin/argmax struct buffers aren't hash-agg compatible), partial
    aggregation before the exchange."""
    # execute=False: the AQE-final rendering duplicates the tree
    # (initial + final sections), double-counting the one Exchange
    p = plan(spark, sf_dir, "events_ohlc_bars")
    assert P.shuffle_count(p) == 1
    assert "SortAggregate" in p
    assert P.is_all_jvm(p)


def test_kneser_ney_model_tables_broadcast(spark, sf_dir):
    """KN scoring: the pair/follower/continuation model tables are
    vocabulary-bounded and must broadcast into the held-out scoring
    pass; top-20 is TakeOrderedAndProject."""
    p = plan(spark, sf_dir, "kneser_ney_doc_scores", execute=True)
    assert P.has_broadcast_join(p, min_count=3)
    assert P.has_take_ordered_topk(p)
    assert P.is_all_jvm(p)


def test_trend_ols_single_moment_pass(spark, sf_dir):
    """OLS trend: one map-side-combined hash aggregation carrying seven
    moments per type — a single shuffle, no window, no join."""
    p = plan(spark, sf_dir, "event_value_trend_ols")
    assert P.shuffle_count(p) == 1
    assert "HashAggregate" in p
    assert P.is_all_jvm(p)


def test_pareto_skyline_no_self_join(spark, sf_dir):
    """Skyline: dominance is two shared-shuffle window maxima, never a
    quadratic self-join — no join node of any kind in the plan; the
    phase-1 window must be partitioned (parallel), leaving exactly one
    single-partition window for the tiny phase-2 survivor pass."""
    p = plan(spark, sf_dir, "pareto_frontier_parts", execute=True)
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)
    assert "Window" in p


def test_rrf_ranks_after_topk_not_corpus_window(spark, sf_dir):
    """RRF fusion: both rankers end in TakeOrderedAndProject BEFORE any
    rank window runs — the window sorts 20 rows, never the corpus —
    and the fusion join is tiny."""
    p = plan(spark, sf_dir, "hybrid_rrf_retrieval", execute=True)
    assert p.count("TakeOrderedAndProject") >= 3  # 2 rankers + final 10
    assert P.is_all_jvm(p)


def test_twap_partitioned_window_single_agg(spark, sf_dir):
    """TWAP: the lead window is PARTITIONED by type (parallel, never a
    global sort) and the integral is one map-side-combined hash agg."""
    p = plan(spark, sf_dir, "events_twap")
    assert "Window" in p
    assert "HashAggregate" in p
    assert P.is_all_jvm(p)
    assert P.shuffle_count(p) <= 2  # window exchange + agg exchange


def test_viterbi_state_is_vocabulary_grain(spark, sf_dir):
    """Viterbi segmentation: the DP joins are equi-joins over the
    distinct-word state — no cartesian/BNLJ anywhere in the unrolled
    rounds, everything JVM-side."""
    p = plan(spark, sf_dir, "viterbi_segment_stats", execute=True)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert P.is_all_jvm(p)


def test_dhash_pairs_candidates_are_banded_equi_join(spark, sf_dir):
    """Perceptual near-dup pairs: candidates come only from the
    (band, byte) bucket equi-join — no cartesian / nested-loop pair
    generation anywhere; the only Python stage is the Arrow-batched
    decode map, and the final Hamming verify is JVM popcount."""
    p = plan(spark, sf_dir, "media_dhash_neardup_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_boilerplate_census_broadcasts_and_topk(spark, sf_dir):
    """Boilerplate scrub: the df>=2 digest blocklist joins back as a
    BROADCAST (never a shuffled self-join on segments), top-50 plans as
    TakeOrderedAndProject, and the whole pipeline is JVM-side."""
    p = plan(spark, sf_dir, "boilerplate_segment_scrub")
    assert P.has_broadcast_join(p)
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


# --------------------------------------------------------------------------
# round-7 plan shapes
# --------------------------------------------------------------------------


def test_transition_matrix_broadcasts_totals(spark, sf_dir):
    """Markov transitions: the per-prev totals (types-bounded) broadcast
    back into the census; one corpus scan, no cartesian, all JVM."""
    p = plan(spark, sf_dir, "event_transition_matrix")
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_active_intervals_windows_share_user_shuffle(spark, sf_dir):
    """Interval coalescing: the running-max window, the island-sum
    window, and the island aggregation must all reuse ONE user_id
    partitioning — at most one exchange on user_id."""
    p = plan(spark, sf_dir, "user_active_intervals")
    assert p.count("Exchange hashpartitioning(user_id") <= 1
    assert P.is_all_jvm(p)


def test_kmv_sketch_broadcasts_exact_side(spark, sf_dir):
    """KMV audit: distinct-hash census map-side combined; the per-source
    exact counts (low-cardinality) broadcast into the sketch join."""
    p = plan(spark, sf_dir, "kmv_distinct_audit")
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_bloom_audit_broadcasts_filter_bits(spark, sf_dir):
    """Bloom pruning: the dim-side bit set broadcasts; the fact side is
    scanned once (distinct + k-position explode); counters fold via
    broadcast 1-row joins, never a cartesian of data."""
    p = plan(spark, sf_dir, "bloom_semijoin_audit")
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_jl_projection_pushes_slice_filter(spark, sf_dir):
    """JL audit: the vec_id < slice filter must reach the parquet scan —
    the bounded-pair discipline is only real if the scan is bounded."""
    p = plan(spark, sf_dir, "jl_projection_audit")
    assert P.has_pushed_filters(p)
    assert P.is_all_jvm(p)


def test_dcg_audit_uses_distributed_topk(spark, sf_dir):
    """DCG audit: both rankings take their top-10 via
    TakeOrderedAndProject (never a global sort); ground-truth and
    candidate sides join broadcast."""
    p = plan(spark, sf_dir, "retrieval_dcg_audit")
    assert P.has_take_ordered_topk(p)
    assert P.has_broadcast_join(p) or "BroadcastNestedLoopJoin" in p
    assert P.is_all_jvm(p)


def test_anchor_scores_shuffle_digests_only(spark, sf_dir):
    """Substring anchors: only 32-hex digests shuffle — the text column
    must not appear in any exchange (the census discipline), and the
    shared-digest set broadcasts."""
    p = plan(spark, sf_dir, "substring_anchor_scores")
    assert P.has_broadcast_join(p)
    assert P.is_all_jvm(p)
    # text is consumed by the per-partition anchor projection; the
    # aggregate exchanges carry digests only
    for frag in p.split("Exchange")[1:]:
        assert "text" not in frag.split("\n")[0]


def test_zorder_audit_is_jvm_and_prunes_columns(spark, sf_dir):
    """Layout audit: all-JVM; the orders scan reads only the three
    involved columns (key, date, orderkey)."""
    p = plan(spark, sf_dir, "zorder_layout_audit")
    assert P.is_all_jvm(p)
    cols = P.read_schema_columns(p)
    assert "o_totalprice" not in cols and "o_orderpriority" not in cols


def test_audio_rms_python_stage_is_one_arrow_map(spark, sf_dir):
    """Audio features: exactly ONE Arrow-batched Python stage (the
    decode+frame-fold map); all aggregation after it is JVM, and
    nothing shuffles before the 3-int frame rows exist."""
    import re

    p = plan(spark, sf_dir, "audio_rms_profile")
    # formatted explain prints each node in the tree AND the detail
    # section — count distinct node ids, not string occurrences
    assert len(set(re.findall(r"\((\d+)\) MapInPandas", p))) == 1
    assert "BatchEvalPython" not in p  # never row-at-a-time Python
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p or "SortAggregate" in p


def test_dga_scores_dedup_before_char_census(spark, sf_dir):
    """DGA scoring: hosts deduplicate BEFORE the per-character explode
    (cost ∝ distinct infrastructure, not sightings) and everything is
    JVM expressions."""
    p = plan(spark, sf_dir, "ioc_host_dga_scores")
    assert P.is_all_jvm(p)
    assert "CartesianProduct" not in p


def test_pmi_vocab_bounded_and_broadcast(spark, sf_dir):
    """PMI census: the top-V vocabulary comes from a distributed top-k
    and joins back as a BROADCAST — each document contributes at most
    V tokens to the pair census."""
    p = plan(spark, sf_dir, "token_cooccurrence_pmi")
    assert P.has_take_ordered_topk(p)
    assert P.has_broadcast_join(p)
    assert P.is_all_jvm(p)


def test_rfm_windows_run_on_customer_grain(spark, sf_dir):
    """RFM: the ntile windows sort the per-customer frame (already
    aggregated), never the orders table — exactly one pre-aggregation
    shuffle feeds all three rank windows."""
    p = plan(spark, sf_dir, "rfm_customer_segments")
    assert p.count("Exchange hashpartitioning(o_custkey") <= 1
    assert P.is_all_jvm(p)


def test_quantile_normalization_is_rank_keyed_join(spark, sf_dir):
    """Quantile normalization: the global-reference lookup is a keyed
    join on the rank (never a cartesian), counts broadcast, all JVM."""
    p = plan(spark, sf_dir, "event_value_quantile_normalized")
    assert "CartesianProduct" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p
    assert P.is_all_jvm(p)


def test_forward_asof_shares_one_user_shuffle(spark, sf_dir):
    """Forward as-of with tolerance: both event sides ride ONE user_id
    exchange into the carry window — same cost law as the backward
    as-of; tolerance is a projection, not a range join."""
    p = plan(spark, sf_dir, "asof_next_purchase_tolerance")
    assert p.count("Exchange hashpartitioning(user_id") <= 1
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_scd2_temporal_join_is_keyed_interval_join(spark, sf_dir):
    """Join-as-of-then: the validity-interval predicate must ride a
    KEYED user_id join (interval condition as post-join filter), never
    a cartesian; dimension build + join share the user partitioning."""
    p = plan(spark, sf_dir, "scd2_temporal_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert P.is_all_jvm(p)


def test_attribution_window_join_is_keyed(spark, sf_dir):
    """Linear attribution: the click-window join is keyed on user_id
    with the time predicates as residuals; the per-purchase count
    window rides the join output."""
    p = plan(spark, sf_dir, "linear_attribution_credits")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert P.is_all_jvm(p)


def test_profile_drift_single_pass(spark, sf_dir):
    """Drift profile: one scan per metric UNION leg at most — no joins,
    no Python, and the orderdate filter reaches the scan."""
    p = plan(spark, sf_dir, "orders_profile_drift")
    assert P.has_pushed_filters(p)
    assert "HashJoin" not in p and "SortMergeJoin" not in p  # agg-only plan
    assert P.is_all_jvm(p)


def test_stationary_rounds_broadcast_census(spark, sf_dir):
    """Stationary distribution: after the one census pass, every
    iteration round joins the checkpointed types² matrix via BROADCAST —
    no corpus rescans, no cartesian."""
    p = plan(spark, sf_dir, "event_type_stationary_dist")
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_gini_ranks_customer_grain_single_scalar_out(spark, sf_dir):
    """Gini: one per-customer aggregation feeds the rank ordering; the
    output is a single scalar row, all JVM."""
    p = plan(spark, sf_dir, "revenue_gini_concentration")
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_k_anonymity_is_two_phase_census(spark, sf_dir):
    """k-anonymity: the QI census partially aggregates map-side; the
    class rollup touches only occupied cells."""
    p = plan(spark, sf_dir, "k_anonymity_audit")
    assert p.count("HashAggregate") >= 2
    assert P.is_all_jvm(p)


def test_scene_cuts_python_stage_is_one_arrow_map(spark, sf_dir):
    """Video scene cuts: exactly ONE Arrow-batched Python stage (decode
    + pair fold); aggregation after it is JVM."""
    import re

    p = plan(spark, sf_dir, "video_scene_cuts")
    assert len(set(re.findall(r"\((\d+)\) MapInPandas", p))) == 1
    assert "BatchEvalPython" not in p
    assert "HashAggregate" in p or "SortAggregate" in p


def test_kcore_rounds_broadcast_alive_set(spark, sf_dir):
    """k-core peeling: every round's alive-set membership joins
    BROADCAST against the checkpointed edge frame — no cartesian, no
    corpus rescans past the one edge derivation."""
    p = plan(spark, sf_dir, "trade_kcore_membership")
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_l_diversity_census_two_phase(spark, sf_dir):
    """l-diversity: the (k, l) census partially aggregates; distinct
    user counting is the standard two-round key shuffle."""
    p = plan(spark, sf_dir, "l_diversity_audit")
    assert p.count("HashAggregate") >= 2
    assert P.is_all_jvm(p)


def test_hits_rounds_broadcast_normalization_totals(spark, sf_dir):
    """HITS: each half-step's L1 total is a broadcast 1-row scalar
    (argmax idiom) — the crossJoin never becomes a real cartesian over
    data; score updates join the checkpointed edge leaf."""
    p = plan(spark, sf_dir, "hits_hubs_authorities")
    assert P.has_broadcast_join(p)
    assert P.is_all_jvm(p)


def test_assortativity_broadcasts_degree_tables(spark, sf_dir):
    """Assortativity: both degree censuses broadcast back onto the edge
    list (node-cardinality sides); the moment reduction is one 1-row
    aggregate — no sort, no cartesian."""
    p = plan(spark, sf_dir, "trade_degree_assortativity")
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_t_closeness_broadcasts_category_grid(spark, sf_dir):
    """t-closeness: the m-row global distribution broadcasts onto the
    QI grid; the cumulative windows and final rollup ride the QI-key
    shuffle, cells not rows."""
    p = plan(spark, sf_dir, "t_closeness_audit")
    assert P.has_broadcast_join(p)
    assert P.is_all_jvm(p)


def test_acf_windows_share_type_shuffle(spark, sf_dir):
    """Hourly ACF: the n/S totals and all six lag leads run as Window
    stages partitioned by event_type — one shuffle, then a
    map-side-combined moment reduction."""
    p = plan(spark, sf_dir, "event_hourly_autocorrelation")
    assert "Window" in p
    assert P.is_all_jvm(p)


def test_readability_is_pure_rowwise_map(spark, sf_dir):
    """Readability: no shuffle at all — no joins, no aggregates, no
    window; one codegen'd projection over the scan."""
    p = plan(spark, sf_dir, "doc_readability_scores")
    assert "HashJoin" not in p and "SortMergeJoin" not in p
    assert "Window" not in p
    assert P.is_all_jvm(p)


def test_fertility_rollup_map_side_combines(spark, sf_dir):
    """Fertility: per-row regex work under the scan fan-out, then a
    two-phase (partial + final) aggregation on the tiny lang key."""
    p = plan(spark, sf_dir, "lang_token_fertility")
    assert p.count("HashAggregate") >= 2
    assert "HashJoin" not in p and "SortMergeJoin" not in p
    assert P.is_all_jvm(p)


def test_typosquat_distance_work_on_census_not_iocs(spark, sf_dir):
    """Typosquat: the host census aggregates BEFORE the distance band
    join, and the allowlist side is broadcast (nested-loop on the tiny
    dim, never a shuffled cartesian over IOC rows)."""
    p = plan(spark, sf_dir, "ioc_typosquat_candidates")
    assert "BroadcastNestedLoopJoin" in p
    assert p.count("HashAggregate") >= 2
    assert P.is_all_jvm(p)


def test_benford_census_single_pass(spark, sf_dir):
    """Benford: one map-side-combined digit census; the total rides a
    9-row window — no joins, no Python."""
    p = plan(spark, sf_dir, "benford_price_audit")
    assert "HashJoin" not in p and "SortMergeJoin" not in p
    assert "HashAggregate" in p
    assert P.is_all_jvm(p)


def test_debounce_rides_one_user_type_shuffle(spark, sf_dir):
    """Debounce: the lag window and nothing else shuffles — one
    (user, type) exchange, then a map-side-combined type rollup."""
    p = plan(spark, sf_dir, "events_debounced_counts")
    assert "Window" in p
    assert "HashJoin" not in p and "SortMergeJoin" not in p
    assert P.is_all_jvm(p)


def test_greedy_coverage_winner_is_topk_and_broadcast(spark, sf_dir):
    """Greedy coverage: each round's winner is a 1-row TakeOrdered (not
    a global sort) and joins back by BROADCAST; the incidence frame is
    a checkpointed leaf (no text rescans)."""
    p = plan(spark, sf_dir, "greedy_coverage_docs", execute=True)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_cusum_windows_share_type_shuffle(spark, sf_dir):
    """CUSUM: totals, prefix sum, and prefix min all run as Window
    stages on the one event_type shuffle — no joins past the spine."""
    p = plan(spark, sf_dir, "events_cusum_alarms")
    assert "Window" in p
    assert P.is_all_jvm(p)


def test_survival_censuses_then_tiny_windows(spark, sf_dir):
    """Kaplan-Meier: per-user min/max map-side combines; the at-risk
    and cumulative-log windows run on the duration-grain frame with
    broadcast 1-row scalars (keyless crossJoins plan as
    BroadcastNestedLoopJoin)."""
    p = plan(spark, sf_dir, "user_survival_curve")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2
    assert P.is_all_jvm(p)


def test_lttb_bucket_stats_broadcast_back(spark, sf_dir):
    """LTTB: the 50-row neighbor-mean frame and the 1-row last-bucket
    scalar broadcast onto the point stream; selection is a per-bucket
    window, output O(buckets)."""
    p = plan(spark, sf_dir, "events_lttb_downsample")
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_hll_register_census_map_side_combines(spark, sf_dir):
    """HLL: the register census is a two-phase aggregation over the
    distinct-hash projection; estimation windows run on the ≤ m-per-
    source register frame.  No Python, no cartesian."""
    p = plan(spark, sf_dir, "hll_register_audit")
    assert p.count("HashAggregate") >= 2
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_ltv_triangle_user_grain_join_and_cohort_window(spark, sf_dir):
    """LTV triangle: purchases collapse to user grain before the cohort
    join; the cumulative rides the cohort-key window; cohort sizes
    broadcast."""
    p = plan(spark, sf_dir, "cohort_ltv_triangle")
    assert P.has_broadcast_join(p)
    assert "Window" in p
    assert P.is_all_jvm(p)


def test_basket_pairs_join_on_order_key_supports_broadcast(spark, sf_dir):
    """Basket lift: pair generation joins on the order key (fan-out
    bounded by basket size), support tables and the 1-row order count
    broadcast back."""
    p = plan(spark, sf_dir, "market_basket_lift")
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_funnel3_windows_share_one_user_shuffle(spark, sf_dir):
    """Strict funnel: all three conditional-min windows ride ONE
    user_id exchange — no self-joins, single Exchange on user_id."""
    p = plan(spark, sf_dir, "funnel_three_step_strict")
    assert "Window" in p
    assert "HashJoin" not in p and "SortMergeJoin" not in p
    assert P.is_all_jvm(p)


def test_session_paths_one_user_shuffle_then_topk(spark, sf_dir):
    """Session paths: lag, running sum, and the per-session list agg
    ride one user_id exchange; the top-20 is TakeOrderedAndProject."""
    p = plan(spark, sf_dir, "session_path_counts")
    assert "Window" in p
    assert P.has_take_ordered_topk(p)
    assert P.is_all_jvm(p)


def test_edge_churn_prunes_both_quarters_at_scan(spark, sf_dir):
    """Edge churn: both quarters' shipdate predicates reach the parquet
    scans; dims broadcast; the classify step is a 1-row reduction."""
    p = plan(spark, sf_dir, "trade_edge_churn")
    assert P.has_pushed_filters(p)
    assert P.has_broadcast_join(p)
    assert P.is_all_jvm(p)


def test_sliding_distinct_band_join_broadcasts_spine(spark, sf_dir):
    """Sliding distinct: the generated hourly spine broadcasts into the
    band join over the deduplicated pair census; distinct counting is
    the standard two-round key shuffle."""
    p = plan(spark, sf_dir, "sliding_24h_distinct_users")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_changepoint_tree_broadcasts_split_points(spark, sf_dir):
    """Depth-2 binseg: the 5-row depth-1 split table broadcasts back
    onto the cumulative spine (segment-local sums derive arithmetically
    — no second spine window sum); both argmax windows are keyed, no
    cartesian anywhere, all JVM."""
    p = plan(spark, sf_dir, "events_changepoint_tree", execute=True)
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_quantile_summary_census_broadcasts_estimates(spark, sf_dir):
    """Mergeable quantile summaries: the per-type estimate table (5
    rows) broadcasts into the exact-rank census — the raw rows never
    shuffle for the audit leg; summary construction and merge are
    keyed windows, all JVM."""
    p = plan(spark, sf_dir, "quantile_summary_merge", execute=True)
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_packing_audit_single_window_no_joins(spark, sf_dir):
    """Packing audit: one cumulative-sum window on the source
    partitioning plus a map-side-combined agg — NO join of any kind in
    the plan (the straddle/spill census is pure arithmetic off the
    window)."""
    p = plan(spark, sf_dir, "packing_efficiency_audit", execute=True)
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_incremental_cc_batch_probe_is_bucket_keyed(spark, sf_dir):
    """Incremental CC maintenance: the batch-incident candidate edges
    must come from the (band, bits) bucket equi-join with only the
    BATCH side probing — never an all-pairs θ-join against the corpus
    (the same law test_dedup_component_edges_are_banded_not_all_pairs
    pins for the full recompute)."""
    from pyspark.sql import functions as F

    from cybersecurity_ioc_etl_spark.operators.dedup import (
        _CC_BATCH_CUT,
        _HAMMING_T,
        _SIMHASH_BANDS,
        _SIMHASH_BITS,
        simhash_agg,
    )
    from cybersecurity_ioc_etl_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sig = simhash_agg(d, "doc_id", "text")
    width = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << width) - 1
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftright(F.col("simhash"), k * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for k in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.bits")
    probe = banded.filter(F.col("doc_id") >= _CC_BATCH_CUT).alias("a")
    cand = probe.join(
        banded.alias("b"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bits") == F.col("b.bits"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    )
    p = P.formatted_plan(cand)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_binary_quant_shortlist_topk_rerank_broadcast(spark, sf_dir):
    """1-bit quantization serve: the Hamming shortlist is a distributed
    top-k (TakeOrderedAndProject over 16-byte codes), the re-rank joins
    the shortlist back by BROADCAST (only 50 vectors pay the float
    cosine), no cartesian, all JVM."""
    p = plan(spark, sf_dir, "binary_quant_rerank_topk", execute=True)
    assert P.has_take_ordered_topk(p)
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_phrase_retrieval_prunes_postings_by_broadcast(spark, sf_dir):
    """Phrase retrieval: both posting lists prune through 1-row
    broadcast joins before the positional (doc, pos+1) equi-join;
    top-20 is a distributed top-k; no cartesian, all JVM."""
    p = plan(spark, sf_dir, "phrase_retrieval_topk", execute=True)
    assert P.has_broadcast_join(p)
    assert P.has_take_ordered_topk(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_hilbert_audit_stays_jvm_with_linear_projection_chain(spark, sf_dir):
    """Hilbert audit: the 8 unrolled xy2d levels must stay whole-JVM
    integer expressions (no Python eval), the normalization bounds a
    1-row broadcast; CollapseProject keeps the multi-referenced level
    expressions from exploding into one giant tree."""
    p = plan(spark, sf_dir, "hilbert_layout_audit", execute=True)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)
    cols = P.read_schema_columns(p)
    assert "o_totalprice" not in cols and "o_orderpriority" not in cols


def test_rendezvous_audit_single_doc_partitioning(spark, sf_dir):
    """Rendezvous audit: both shard picks (8-shard and 9-shard argmax)
    ride ONE doc_id window partitioning over the keys x9 fan-out; the
    pick join is keyed, all JVM."""
    p = plan(spark, sf_dir, "rendezvous_shard_audit", execute=True)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_substring_spans_census_broadcasts_shared_grams(spark, sf_dir):
    """Exact substring-span dedup: the occurrence->shared-gram probe is
    a BROADCAST join (the shared set is bounded by duplicated mass, so
    only 8-byte gram hashes travel — document text never shuffles
    keyed), the interval union rides a doc_id window, no cartesian,
    all JVM."""
    p = plan(spark, sf_dir, "substring_dedup_spans", execute=True)
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_substring_spans_gram_partitioned_fallback(spark, sf_dir):
    """VERDICT r10 item 4: when duplicated mass outgrows the broadcast
    ceiling, span_dedup_frame(broadcast_shared=False) probes the
    shared-gram census through a gram-keyed SHUFFLED hash join instead
    — the plan must show ShuffledHashJoin with NO broadcast on the
    probe edge (the shuffle_hash hint holds even where AQE would
    re-broadcast the fixture-sized set), and the results must be
    IDENTICAL to the broadcast path."""
    from cybersecurity_ioc_etl_spark.operators.dedup import (
        span_dedup_frame,
    )

    bc = span_dedup_frame(spark, sf_dir, broadcast_shared=True)
    sh = span_dedup_frame(spark, sf_dir, broadcast_shared=False)
    p = P.formatted_plan(sh, execute=True)
    assert "ShuffledHashJoin" in p
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)
    assert sorted(map(tuple, sh.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, bc.collect()), key=lambda t: t[0]
    )


def test_heavy_hitters_summary_joins_are_broadcast(spark, sf_dir):
    """Misra-Gries audit: summaries are <= m rows, so the shard-offset
    probe, merge re-truncation, and audit joins all BROADCAST; the only
    full-width work is the two map-side-combined count aggregations;
    no cartesian beyond the broadcast-singleton scalars, all JVM."""
    p = plan(spark, sf_dir, "heavy_hitters_merge_audit", execute=True)
    assert P.has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_mg_partial_sentinel_preserves_offset_on_degenerate_batch(spark):
    """ADVICE r10: when the top m+1 counts all tie (here: m+1 distinct
    tokens, each count 1 → d=1, no f > d) the MG counter set is EMPTY
    and a plain partial carries no row — the batch's truncation offset
    d would vanish from the streaming fold's d_sum while the oracle's
    dd CTE still counts every shard.  sentinel=True must emit exactly
    one (tok=NULL, c=0, d) row so the offset survives."""
    from cybersecurity_ioc_etl_spark.operators.text_queries import (
        _MG_M,
        mg_partial,
    )

    tok = spark.createDataFrame(
        [(f"t{i:02d}",) for i in range(_MG_M + 1)], "tok string"
    )
    assert mg_partial(tok).count() == 0  # degenerate: no f > d
    rows = mg_partial(tok, sentinel=True).collect()
    assert len(rows) == 1
    assert rows[0].tok is None and rows[0].c == 0 and rows[0].d == 1
    # non-degenerate frame: sentinel adds exactly one NULL row and
    # leaves the counter rows untouched
    tok2 = tok.union(spark.createDataFrame([("t00",)] * 3, "tok string"))
    plain = {(r.tok, r.c, r.d) for r in mg_partial(tok2).collect()}
    with_s = {(r.tok, r.c, r.d) for r in mg_partial(tok2, sentinel=True).collect()}
    assert with_s - plain == {(None, 0, 1)}
    assert plain <= with_s


def test_minmax_delete_repair_scopes_recompute_to_touched_groups(
    spark, sf_dir
):
    """MIN/MAX delete repair: the touched-group set (distinct delete
    keys) must BROADCAST into both the scoped-recompute inner join and
    the stored-state carry-over anti join — the repair leg never
    shuffles the base table on its own account; date + modulus
    predicates reach the scan; all JVM.  The scoped leg's output is
    also quantitatively bounded by the touched-group count."""
    from pyspark.sql import functions as F

    from cybersecurity_ioc_etl_spark.operators.relational import (
        _IVM_CUT,
        _MINMAX_DEL_MOD,
    )
    from cybersecurity_ioc_etl_spark.sources.readers import load_table

    p = plan(spark, sf_dir, "minmax_delete_repair")
    assert p.count("BroadcastHashJoin") >= 2
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert P.has_pushed_filters(p)
    assert P.is_all_jvm(p)
    # scope receipt: repaired-touched groups <= touched groups (strict
    # subset possible when a group's every base row was deleted)
    o = load_table(spark, sf_dir, "orders")
    is_base = F.col("o_orderdate") < _IVM_CUT
    touched = (
        o.filter(is_base & (F.col("o_orderkey") % _MINMAX_DEL_MOD == 0))
        .select("o_custkey")
        .distinct()
        .count()
    )
    from cybersecurity_ioc_etl_spark import operators as _ops

    out = _ops.QUERIES["minmax_delete_repair"](spark, sf_dir)
    assert out.filter(F.col("touched")).count() <= touched
    assert touched > 0


def test_label_communities_rounds_stay_jvm(spark, sf_dir):
    """Label propagation: each half-step is a neighbor-keyed equi-join
    + map-side label count + rank-1 window — no cartesian, no Python
    eval across all 6 unrolled half-steps."""
    p = plan(spark, sf_dir, "trade_label_communities", execute=True)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_modularity_label_joins_broadcast_and_scalar_fold(spark, sf_dir):
    """Modularity receipt: the intra-community census joins the edge
    table against the (broadcastable) label table; the final fold is
    scalar aggregates crossed by broadcast — all JVM, no cartesian
    beyond the broadcast-singleton scalars."""
    p = plan(spark, sf_dir, "trade_modularity_score", execute=True)
    assert P.has_broadcast_join(p)
    assert P.is_all_jvm(p)


def test_psi_single_pass_bins_with_broadcast_edges(spark, sf_dir):
    """PSI drift: the nine decile edges broadcast into the one binning
    pass (era is a predicate, never a second scan), cells are 10 rows,
    all JVM.  The scan pushdown and edge broadcast sit BELOW the terms
    localCheckpoint, so they're pinned on the pre-checkpoint binning
    plan; the served plan (from the checkpoint) must stay scalar —
    no CartesianProduct, all JVM."""
    from cybersecurity_ioc_etl_spark.operators.profiling import (
        _PSI_BINS,
        _PSI_SPLIT,
    )
    from cybersecurity_ioc_etl_spark.operators.relational import mi
    from cybersecurity_ioc_etl_spark.sources.readers import load_table
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .select(
            mi(F.col("o_totalprice")).alias("pi"),
            (
                F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("timestamp")
            ).alias("in_a"),
        )
    )
    na = o.filter("in_a").agg(F.count("*").alias("n_a"))
    va = (
        o.filter("in_a")
        .groupBy("pi")
        .agg(F.count("*").alias("c"))
        .withColumn("cum", F.sum("c").over(Window.orderBy("pi")))
    )
    edges = va.crossJoin(F.broadcast(na)).agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"({k} * n_a + 9) div 10"),
                    F.col("pi"),
                )
            ).alias(f"e{k}")
            for k in range(1, _PSI_BINS)
        ]
    )
    binned = o.crossJoin(F.broadcast(edges))
    pre = P.formatted_plan(binned, execute=True)
    assert P.has_pushed_filters(pre)
    assert "BroadcastNestedLoopJoin" in pre or P.has_broadcast_join(pre)
    p = plan(spark, sf_dir, "orders_psi_drift", execute=True)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_ivfpq_delete_compaction_removes_tombstoned_rows(spark, sf_dir):
    """Delete-compaction receipt: a tombstoned id must never appear in
    the served result OR the compacted segment, survivors must rank
    exactly as in the two-segment serve minus the deleted ids, and the
    compacted serve keeps the bucket-pruned scan (SelectedBucketsCount
    present, no Exchange)."""
    import uuid

    from pyspark.sql import functions as F

    from cybersecurity_ioc_etl_spark.operators.similarity import (
        _IVFPQ_DELETE_MOD,
        build_ivfpq_upsert_segments,
        compact_ivfpq_segments,
        serve_ivfpq_stored,
    )
    from cybersecurity_ioc_etl_spark.sinks.bucketed import (
        bucket_filter_pruning,
    )
    from cybersecurity_ioc_etl_spark.sources.readers import load_table

    segs, cent = build_ivfpq_upsert_segments(spark, sf_dir)
    tomb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .filter(F.col("vec_id") % 10 == _IVFPQ_DELETE_MOD)
    )
    compacted = f"delcompact_{uuid.uuid4().hex[:8]}"
    try:
        compact_ivfpq_segments(spark, segs, compacted, tombstones=tomb)
        seg_rows = spark.table(compacted)
        assert (
            seg_rows.filter(
                F.col("vec_id") % 10 == _IVFPQ_DELETE_MOD
            ).count()
            == 0
        )
        with bucket_filter_pruning(spark):
            full = serve_ivfpq_stored(spark, sf_dir, segs, cent).collect()
            after_df = serve_ivfpq_stored(spark, sf_dir, compacted, cent)
            after = after_df.collect()
            p = P.formatted_plan(after_df, execute=True)
        # no tombstoned id may appear in the served result — a separate
        # assertion, never an or-fallback that could mask a ranking
        # regression (ADVICE r10)
        assert all(r.vec_id % 10 != _IVFPQ_DELETE_MOD for r in after)
        # survivors must rank EXACTLY: deleting rows frees top-k slots,
        # so after = full's surviving rows in their original order,
        # followed by new entrants from beyond full's cutoff — the
        # ordered prefix must match element-wise
        survivors = [
            tuple(r)
            for r in full
            if r.vec_id % 10 != _IVFPQ_DELETE_MOD
        ]
        n = min(len(survivors), len(after))
        assert n > 0
        assert [tuple(r) for r in after[:n]] == survivors[:n]
        assert "SelectedBucketsCount" in p
        assert "Exchange" not in p
    finally:
        from cybersecurity_ioc_etl_spark.sinks.bucketed import (
            drop_table_and_location,
        )

        drop_table_and_location(spark, compacted)


def test_nn_descent_candidates_bounded_and_monotone(spark, sf_dir):
    """NN-descent round: candidate generation must be the local join
    (neighbors ∪ neighbors-of-neighbors through the undirected graph)
    — bounded by (2k)² + k pairs per node, NEVER all-pairs — and the
    kept top-k must monotonically improve on the ring init for every
    node (the superset-selection law the oracle states as TRUE)."""
    from pyspark.sql import functions as F

    from cybersecurity_ioc_etl_spark import operators as _ops
    from cybersecurity_ioc_etl_spark.operators.similarity import _NND_K
    from cybersecurity_ioc_etl_spark.sources.readers import load_table

    out = _ops.QUERIES["nn_descent_round"](spark, sf_dir)
    rows = out.collect()
    n_nodes = (
        load_table(spark, sf_dir, "embeddings").select("vec_id").distinct().count()
    )
    assert len(rows) == n_nodes * _NND_K
    assert all(r.improved for r in rows)
    # per-node neighbor lists are rank-contiguous, self-free, distinct
    by_v: dict = {}
    for r in rows:
        by_v.setdefault(r.vec_id, []).append(r)
    for v, lst in by_v.items():
        assert sorted(x.rnk for x in lst) == list(range(1, _NND_K + 1))
        assert all(x.neighbor_id != v for x in lst)
        assert len({x.neighbor_id for x in lst}) == _NND_K
        ds = [x.d2_dist for x in sorted(lst, key=lambda x: x.rnk)]
        assert ds == sorted(ds)
    # plan: keyed joins only — no cartesian / nested-loop pair census
    p = P.formatted_plan(out)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_luby_mis_independent_and_maximal_on_fixture(spark, sf_dir):
    """Luby rounds must produce an INDEPENDENT set (computed receipt)
    that is MAXIMAL on the fixture (no active nodes remain after the
    unrolled rounds) with geometric progress (first round decides
    most of the set)."""
    rows = QUERIES["trade_luby_mis"](spark, sf_dir).collect()
    assert rows
    r = rows[0]
    assert r.independent
    assert r.n_remaining == 0, "set not maximal on the fixture"
    assert r.n_mis == len(rows)
    assert 1 <= r.n_mis < r.n_nodes
    assert min(x.round_joined for x in rows) == 1


def test_unigram_em_prunes_and_stays_segmentable(spark, sf_dir):
    """The hard-EM trainer round must genuinely prune the vocabulary
    (multi-char pieces with zero on-path usage leave) while every word
    remains segmentable on the pruned vocabulary — the two receipts
    that make the prune a trainer step, not data loss."""
    rows = QUERIES["unigram_em_round"](spark, sf_dir).collect()
    assert rows
    r = rows[0]
    assert r.vocab_after < r.vocab_before, "prune removed nothing"
    assert r.all_segmentable, "a word lost segmentability"
    assert all(x.pieces1 >= 1 and x.cost1_i > 0 for x in rows)


def test_shapley_efficiency_and_differentiated_credits(spark, sf_dir):
    """Exact Shapley over the exposure lattice: the efficiency
    identity must hold over the quantized integers (it is algebra,
    not luck), and the (user, day) framing must produce a
    NON-degenerate game — differentiated credits with real
    non-converting units."""
    rows = QUERIES["purchase_shapley_attribution"](spark, sf_dir).collect()
    assert len(rows) == 4
    assert all(r.efficiency_ok for r in rows)
    assert all(
        r.n_exposed_conversions < r.n_exposed_units for r in rows
    ), "game is degenerate: every exposed unit converted"
    assert len({r.phi_q for r in rows}) > 1, "credits are uniform"


def test_betweenness_khop_real_centrality_and_keyed_joins(spark, sf_dir):
    """k-hop Brandes on the top-3-partner graph must produce REAL
    centrality mass (the sparsifier keeps the graph navigable where
    the raw quarter graph saturates complete and all deltas collapse
    to zero), with per-level keyed joins only."""
    out = QUERIES["trade_betweenness_khop"](spark, sf_dir)
    rows = out.collect()
    assert rows
    assert sum(1 for r in rows if r.qbc > 0) >= 3
    assert all(r.qbc >= 0 for r in rows)
    assert all(r.n_sources >= 1 for r in rows)
    p = P.formatted_plan(out)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bt_mm_round_improves_quantized_likelihood(spark, sf_dir):
    """Bradley-Terry MM guarantees monotone likelihood in exact
    arithmetic; the quantized integer walk must preserve it on the
    fixture (computed boolean, not oracle-stated), with real
    comparisons and finite strengths."""
    rows = QUERIES["event_type_bt_strengths"](spark, sf_dir).collect()
    assert rows
    assert all(r.n_games > 0 for r in rows)
    assert all(r.ll_improved for r in rows)
    assert all(r.ll2_num >= r.ll1_num for r in rows)
    assert all(r.p_round1 > 0 and r.p_round2 > 0 for r in rows)
    # the fit separates types: strengths are not all identical
    assert len({r.p_round2 for r in rows}) > 1


def test_interval_overlap_join_bucketed_at_both_widths(spark, sf_dir):
    """The interval_overlap_join library rewrite must plan as a
    bucket-keyed equi-join with the broadcast incident dim at BOTH
    caller widths (hour buckets for the Allen census, day buckets for
    the exposure census) — never an inequality θ-join (cartesian /
    nested-loop)."""
    for name in ("session_incident_overlap", "user_incident_exposure"):
        p = plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BroadcastHashJoin" in p, name


def test_nn_graph_serve_recall_receipt(spark, sf_dir):
    """Graph serve (beam search over the NN-descent graph): on the
    clustered fixture the beam must find the exact nearest neighbor
    for EVERY query with full recall@4 (measured 1.00 at sf0.001/
    0.01/0.1) while visiting a bounded fraction of the corpus — the
    receipt that the serve path navigates the graph instead of
    scanning it.  The visited bound is the beam-work law: seeds +
    H·B expansions, independent of n."""
    from cybersecurity_ioc_etl_spark import operators as _ops
    from cybersecurity_ioc_etl_spark.operators.similarity import (
        _GS_TOPK,
    )
    from cybersecurity_ioc_etl_spark.sources.readers import load_table

    out = _ops.QUERIES["nn_graph_serve_topk"](spark, sf_dir)
    rows = out.collect()
    assert rows, "no queries served"
    n_nodes = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .distinct()
        .count()
    )
    # full recall on the clustered fixture: every query's exact top-4
    # is inside the served top-4, and the exact-nearest node is found
    assert all(r.n_hits == _GS_TOPK for r in rows)
    assert all(r.found_nn for r in rows)
    assert all(r.best_id == r.exact_id for r in rows)
    assert all(r.best_d2 == r.exact_d2 for r in rows)
    # beam-bounded serve: well under half the corpus visited even at
    # fixture scale (fraction falls as 1/n at constant beam work)
    assert all(r.n_visited < 0.4 * n_nodes for r in rows)


def test_recall_table_refuses_mixed_hop_counts(spark, sf_dir, monkeypatch):
    """The recall table runs all settings in one beam chain with one hop
    count; a setting with another hop count must fail loudly, not run
    at the first setting's count."""
    import pytest

    from cybersecurity_ioc_etl_spark.operators import similarity

    monkeypatch.setattr(
        similarity, "_GSA_SETTINGS", [(4, 2, "stride"), (3, 8, "stride")]
    )
    with pytest.raises(ValueError, match="hop count"):
        QUERIES["nn_graph_serve_recall_table"](spark, sf_dir)


def test_vec_arrs_refuses_gapped_dims(spark):
    """The array-fold distances pair values by position; a vector whose
    dim indices skip one must fail loudly, not shift every later dim."""
    import pytest
    from pyspark.errors import PySparkException

    from cybersecurity_ioc_etl_spark.operators.similarity import _vec_arrs

    comp = spark.createDataFrame(
        [(1, 0, 5), (1, 1, 6), (1, 2, 7), (2, 0, 5), (2, 2, 7)],
        "vec_id bigint, i int, xi bigint",
    )
    dense = _vec_arrs(comp.filter("vec_id = 1")).collect()
    assert [(r.vid, list(r.arr)) for r in dense] == [(1, [5, 6, 7])]
    with pytest.raises(PySparkException, match="not dense"):
        _vec_arrs(comp).collect()


def test_rq_codebooks_broadcast_and_errors_monotone(spark, sf_dir):
    """Residual quantization: both codebook sides must BROADCAST into
    the dot passes (codebooks are K·dims rows, never shuffled
    full-width), no cartesian beyond the scalar broadcasts, all JVM;
    the zero codeword makes err_stage2 <= err_stage1 for EVERY vector
    (the oracle states improved=TRUE — this pins it quantitatively)."""
    from cybersecurity_ioc_etl_spark import operators as _ops

    out = _ops.QUERIES["rq_encode_audit"](spark, sf_dir)
    rows = out.collect()
    assert rows and all(r.improved for r in rows)
    assert all(r.err_stage2 <= r.err_stage1 + 1e-12 for r in rows)
    p = P.formatted_plan(out)
    assert P.has_broadcast_join(p, min_count=2)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)


def test_wordpiece_winner_differs_from_bpe_when_objectives_disagree(
    spark, sf_dir
):
    """WordPiece vs BPE: the likelihood objective must rank pairs by
    count(ab)/(count(a)·count(b)), not raw count — pin that the gain
    ordering is actually used (the winner maximizes the quantized gain
    among all pairs) and the plan stays JVM with the 1-row winner
    broadcast."""
    from cybersecurity_ioc_etl_spark import operators as _ops

    out = _ops.QUERIES["wordpiece_merge_step"](spark, sf_dir)
    rows = out.collect()
    assert rows
    assert len({r.merged_pair for r in rows}) == 1
    assert all(r.gain_i == rows[0].gain_i for r in rows)
    # the served plan is the post-checkpoint re-census + 1-row scalar
    # carry (broadcast nested-loop of a LIMIT 1 — the house scalar
    # idiom); the gain-join broadcasts live before the checkpoint
    p = P.formatted_plan(out)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)
    assert P.has_take_ordered_topk(p)


def test_mmr_shortlist_work_is_broadcast_and_topk(spark, sf_dir):
    """MMR re-rank: relevance is a broadcast-query dot pass with a
    distributed top-N shortlist (TakeOrderedAndProject) — pinned on the
    pre-checkpoint shortlist plan, since the greedy picks checkpoint
    per round and the served plan is a scan of the final checkpoint
    (which must stay JVM, no cartesian)."""
    from pyspark.sql import functions as F

    from cybersecurity_ioc_etl_spark.operators.similarity import (
        _MMR_CAND,
        _kmeans_comp,
    )

    comp = _kmeans_comp(spark, sf_dir)
    qv = comp.filter(F.col("vec_id") == 0).select(
        "i", F.col("xi").alias("qx")
    )
    cand = (
        comp.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("xi") * F.col("qx")).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_CAND)
    )
    pre = P.formatted_plan(cand, execute=True)
    assert P.has_broadcast_join(pre)
    assert P.has_take_ordered_topk(pre)
    p = plan(spark, sf_dir, "mmr_diversified_topk", execute=True)
    assert "CartesianProduct" not in p
    assert P.is_all_jvm(p)
