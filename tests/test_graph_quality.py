"""Quality receipts for the community operators.

trade_louvain_move's `improved` flag is COMPUTED on both engines (not
stated TRUE in the oracle) because the parity-parallel move pass lacks
sequential Louvain's monotonicity guarantee in theory — simultaneous
movers into one community interact through the Σtot² cross-term.  These
tests pin that on BOTH fixture SFs the pass actually optimizes: real
moves happen and Q strictly improves from the singleton seed.
"""

from __future__ import annotations

import os

import pytest

from cybersecurity_ioc_etl_spark import operators as _ops


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_louvain_move_strictly_improves_modularity(spark, sf_dir):
    row = _ops.QUERIES["trade_louvain_move"](spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_moved > 0, "the greedy pass must exercise real moves"
    assert r.q_num_after > r.q_num_before, "Q must strictly improve"
    assert r.improved
    assert r.n_communities_after < r.n_communities_before
    # exact-integer numerators and the double scores agree in sign/order
    assert (r.q_after > r.q_before) == (r.q_num_after > r.q_num_before)


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_louvain_two_level_monotone_across_levels(spark, sf_dir):
    """The multi-level composition must climb Q ACROSS levels with
    real level-2 moves, and the level-2 labeling's Q on the contracted
    graph must equal the flat composed labeling's Q on the original
    graph (contraction invariance at the composed level)."""
    row = _ops.QUERIES["trade_louvain_two_level"](spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_moved_l2 > 0, "level 2 must exercise real moves"
    assert r.q_num_l1 > r.q_num_l0, "level 1 must strictly improve"
    assert r.q_num_l2 > r.q_num_l1, "level 2 must strictly improve"
    assert r.l1_improved and r.l2_improved
    assert r.flat_conserved, "contracted Q must equal flat-label Q"
    assert r.n_comm_l2 < r.n_comm_l1 < r.n_nodes
    assert r.q_l0 < r.q_l1 < r.q_l2


def test_louvain_gain_formula_zero_for_staying_put(spark):
    """The ΔQ·(2m)² gain of 'moving' to one's own community must be
    exactly zero — the algebraic identity that anchors the formula
    (4m·(k_ic − k_icur) − 2k_i·(d_c − d_cur + k_i) with c = cur and
    d_c = d_cur − k_i collapses to 0)."""
    from pyspark.sql import functions as F

    from cybersecurity_ioc_etl_spark.operators.graph import _louvain_half

    # triangle + pendant: 0-1, 1-2, 2-0, 2-3; all in one community
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    ue = spark.createDataFrame(
        [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
        "a bigint, b bigint",
    )
    lab = spark.createDataFrame(
        [(i, 99) for i in range(4)], "id bigint, lbl bigint"
    )
    deg = ue.groupBy(F.col("a").alias("id")).agg(F.count("*").alias("k"))
    two_m = ue.agg(F.count("*").alias("two_m"))
    # single community: no candidate c != cur exists, so no moves
    _, mv = _louvain_half(ue, deg, two_m, lab, 0)
    assert mv.count() == 0


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_louvain_converged_level_stops_at_first_nonimproving_pair(
    spark, sf_dir
):
    """The termination loop must (a) find a stop pair within the
    unrolled bound, (b) climb Q strictly on every pair BEFORE the
    stop, (c) stop exactly where dQ first fails to improve, and
    (d) report the best labeling as the pair before the stop —
    Q-based termination per 72ef586:tools/louvain_probe.py (moves can
    oscillate forever at constant Q, so zero-moves is NOT the
    fixpoint test)."""
    rows = {
        r.pair: r
        for r in _ops.QUERIES["trade_louvain_converged_level"](
            spark, sf_dir
        ).collect()
    }
    stop = rows[0].stop_pair
    assert stop is not None, "must converge within the unrolled bound"
    for k in range(1, stop):
        assert rows[k].dq_num > 0 and rows[k].improved
    assert rows[stop].dq_num <= 0 and rows[stop].is_stop
    best = rows[stop - 1]
    assert rows[0].best_q == best.q
    # the best labeling's Q dominates every pair's Q through the stop
    assert all(rows[k].q_num <= best.q_num for k in range(stop + 1))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_ktruss_two_rounds_reach_fixpoint(spark, sf_dir, sf):
    """trade_ktruss_edges unrolls two peeling rounds (the oracle's
    depth), so its output is the k-truss only if a third round would
    peel nothing: every reported edge must already close >= k-2
    triangles.  Edges of the second-round graph with zero support are
    absent from the output, but they sit in no triangle, so peeling
    them changes no other edge's support."""
    from cybersecurity_ioc_etl_spark.operators.graph import _TRUSS_K

    rows = _ops.QUERIES["trade_ktruss_edges"](
        spark, os.path.join(os.path.dirname(sf_dir), sf)
    ).collect()
    assert all(r.support >= _TRUSS_K - 2 for r in rows), [
        r for r in rows if r.support < _TRUSS_K - 2
    ]


def test_louvain_pair_fold_raises_past_its_edge_ceiling(spark):
    """The collected parity-pair fold runs in one task, so an edge list
    past its stated ceiling must fail loudly, not straggle or OOM."""
    from cybersecurity_ioc_etl_spark.operators.graph import (
        _LV_FOLD_MAX_EDGES,
        _lv_pair_labels,
    )

    edges = spark.range(_LV_FOLD_MAX_EDGES + 1).selectExpr(
        "id AS a", "id + 1 AS b"
    )
    with pytest.raises(Exception, match="exceed the"):
        _lv_pair_labels(edges, weighted=False).collect()


def test_louvain_converged_fold_raises_past_its_edge_ceiling(spark):
    """The converged-level fold runs in one task over the collected edge
    list too: past the same ceiling it must fail loudly."""
    from cybersecurity_ioc_etl_spark.operators.graph import (
        _LV_FOLD_MAX_EDGES,
        _lvc_pair_rows,
    )

    edges = spark.range(_LV_FOLD_MAX_EDGES + 1).selectExpr(
        "id AS a", "id + 1 AS b"
    )
    with pytest.raises(Exception, match="exceed the"):
        _lvc_pair_rows(edges).collect()
