"""connected_components unit tests: correctness on known graph shapes and
invariance under the amortized convergence probe (check_every).

A path graph is the worst case for label propagation (diameter = n-1);
pointer jumping must still converge in O(log n) rounds, and probing the
fixpoint every k rounds instead of every round must not change labels.
"""

from __future__ import annotations

import pytest

from cybersecurity_ioc_etl_spark.operators.dedup import connected_components


def _labels(spark, nodes, edges, **kw):
    n = spark.createDataFrame([(i,) for i in nodes], "id long")
    e = spark.createDataFrame(
        [(s, d) for s, d in edges] or [(None, None)], "src long, dst long"
    )
    if not edges:
        e = e.filter("src IS NOT NULL")
    out = connected_components(n, e, id_col="id", **kw)
    return {r["nid"]: r["component"] for r in out.collect()}


def test_path_graph_single_component(spark):
    # 0-1-2-...-9: one component labeled 0, diameter 9 > 2^rounds probes
    nodes = list(range(10))
    edges = [(i, i + 1) for i in range(9)]
    got = _labels(spark, nodes, edges)
    assert got == {i: 0 for i in range(10)}


def test_two_components_and_singleton(spark):
    nodes = list(range(7))
    edges = [(0, 1), (1, 2), (4, 5), (5, 6)]
    got = _labels(spark, nodes, edges)
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 4}


def test_check_every_amortization_identical_labels(spark):
    """Probing convergence every 1, 2, or 3 rounds must give identical
    labels — the probe only decides when to STOP, never what to compute
    (the update is monotone, fixpoint rounds are no-ops)."""
    nodes = list(range(12))
    # path 0..7 plus a triangle 8-9-10 and singleton 11
    edges = [(i, i + 1) for i in range(7)] + [(8, 9), (9, 10), (8, 10)]
    expect = {i: 0 for i in range(8)} | {8: 8, 9: 8, 10: 8, 11: 11}
    for k in (1, 2, 3):
        assert _labels(spark, nodes, edges, check_every=k) == expect


def test_fold_matches_loop_on_known_shapes(spark):
    """connected_components_fold (the slice-bounded one-pass union-find,
    r15) must produce byte-identical min-member labels to the
    pointer-jumping loop on the same graphs — chain, triangle+isolate,
    two components, empty edges."""
    from cybersecurity_ioc_etl_spark.operators.dedup import (
        connected_components,
        connected_components_fold,
    )

    shapes = [
        ([1, 2, 3, 4, 5], [(1, 2), (2, 3), (3, 4), (4, 5)]),
        ([1, 2, 3, 9], [(1, 2), (2, 3), (3, 1)]),
        ([1, 2, 3, 4], [(1, 2), (3, 4)]),
        ([7, 8], []),
    ]
    for nodes, edges in shapes:
        n = spark.createDataFrame([(x,) for x in nodes], "id bigint")
        e = spark.createDataFrame(
            [(a, b) for a, b in edges], "src bigint, dst bigint"
        )
        loop = {
            (r.nid, r.component)
            for r in connected_components(n, e, id_col="id").collect()
        }
        fold = {
            (r.nid, r.component)
            for r in connected_components_fold(n, e, id_col="id").collect()
        }
        assert fold == loop, (nodes, edges)


def test_fold_raises_past_its_node_ceiling(spark):
    """The collected fold does O(V·E) work in one task, so a graph past
    its stated ceiling must fail loudly, not straggle or OOM."""
    from cybersecurity_ioc_etl_spark.operators.dedup import (
        _CC_FOLD_MAX_NODES,
        connected_components_fold,
    )

    e = spark.createDataFrame([], "src bigint, dst bigint")

    def fold(n_nodes):
        n = spark.range(n_nodes).withColumnRenamed("id", "vid")
        return connected_components_fold(n, e, id_col="vid").collect()

    assert len(fold(_CC_FOLD_MAX_NODES)) == _CC_FOLD_MAX_NODES
    with pytest.raises(Exception, match="exceed the"):
        fold(_CC_FOLD_MAX_NODES + 1)
