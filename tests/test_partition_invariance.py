"""Layout invariance: a query's RESULT must not depend on how the
cluster happens to partition the shuffle — the property every
"reproducible on any layout" docstring claims.  Partition-count changes
reorder aggregation inputs and task boundaries, so any
ordering-sensitive construct (first/last without a total order, double
summation, non-commutative merge) diverges here even though the
single-layout oracle test passes.

One representative per operator family runs under shuffle.partitions=5
and =32; the sorted row sets must be identical."""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()

_REPRESENTATIVES = [
    "pricing_summary",  # exact-integer agg
    "region_nation_revenue",  # multi-join + agg
    "top_order_per_customer",  # window row_number
    "first_last_order_price",  # argmin/argmax
    "weighted_priority_sample",  # distributed top-k
    "dedup_keep_first",  # keeper election
    "minhash_signatures",  # min-aggregates
    "dedup_components",  # iterative label propagation
    "kmeans_lloyd_step",  # exact-integer argmin
    "pagerank_nations",  # iterative integer ranks
    "trade_bfs_distances",  # iterative min-relax
    "dsir_importance_sample",  # quantized scoring + top-k
    "lang_classifier_confusion",  # train/score argmax
    "semdedup_prune",  # cluster-bounded prune
    "events_value_ztest",  # conditional moments
    "banding_recall_audit",  # LSH self-audit
    "trade_triangle_counts",  # wedge join
    "source_overlap_matrix",  # digest self-join
    "cumulative_new_users",  # first-seen + running sum
    "corpus_token_budget",  # ledger + broadcast total
    "ioc_ip_block_enrichment",  # bucketed range join
    # round-5 additions
    "dedup_keep_best_salted",  # salted two-phase keeper election
    "ivf_trained_topk",  # train -> inverted file -> serve
    "ivfpq_adc_topk",  # PQ codes + broadcast ADC table
    "bpe_n_merges",  # 4-round merge loop, checkpoint cadence
    "ann_recall_audit",  # two top-k plans + intersection
    "event_value_percentiles",  # rank-based order statistics
    "embedding_power_iteration",  # spectral iteration, signed floors
    # rewritten as collected folds or overlapped from run_legs
    "trade_louvain_two_level",  # collected Louvain fold
    "nn_graph_serve_recall_table",  # cfg-tagged beam chain, nested legs
    "embedding_dbscan_clusters",  # collected core-graph fold
    "incremental_cc_maintenance",  # fold leg vs audit leg
    "incremental_linkage_maintenance",  # three overlapped leg pairs
]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.17g}"
    return "NULL" if v is None else str(v)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(_norm(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("name", _REPRESENTATIVES)
def test_result_invariant_under_shuffle_partitioning(spark, sf_dir, name):
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = _rows(QUERIES[name](spark, sf_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = _rows(QUERIES[name](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert narrow == wide, (
        f"{name}: result depends on partition count "
        f"(first diffs: {[p for p in zip(narrow, wide) if p[0] != p[1]][:3]})"
    )
