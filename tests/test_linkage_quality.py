"""Golden-record consolidation receipts: the CC stability probe must
hold (the unroll bound was sufficient), and on the fixture — where the
supervised FS rule measures precision 1.00 — every consolidated entity
must be a clean star: exactly ONE original plus its replica(s), keyed
by the original's custkey (a multiple of the dirty-replica modulus).
The EM loop must stop inside its bounded unroll at every fixture scale.
"""

from __future__ import annotations

import os

import pytest

from cybersecurity_ioc_etl_spark import operators as _ops
from cybersecurity_ioc_etl_spark.operators.linkage import (
    _EM_ROUNDS,
    _LNK_DIRTY_MOD,
)


def test_golden_records_converged_and_star_shaped(spark, sf_dir):
    rows = _ops.QUERIES["linkage_golden_records"](
        spark, sf_dir
    ).collect()
    assert rows, "fixture must produce at least one matched entity"
    for r in rows:
        assert r.converged is True, "CC unroll bound overran"
        assert r.n_orig == 1, f"FP bridge merged entities: {r}"
        assert r.n_dirty >= 1 and r.n_members == r.n_orig + r.n_dirty
        assert r.entity_id % _LNK_DIRTY_MOD == 0, (
            "entity keyed off a non-replicated original"
        )


def test_incremental_linkage_fold_matches_recompute(spark, sf_dir):
    rows = _ops.QUERIES["incremental_linkage_maintenance"](
        spark, sf_dir
    ).collect()
    assert rows
    both = 0
    for r in rows:
        assert r.incr_consistent is True, "fold diverged from recompute"
        assert r.fold_converged is True and r.recompute_converged is True
        if r.n_base_dirty >= 1 and r.n_new_dirty >= 1:
            both += 1
            assert r.entity_id % 77 == 0, (
                "both-batch entity must be a common multiple of the "
                f"replica mods: {r}"
            )
    assert both >= 1, "fixture must produce at least one merged entity"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_linkage_em_converged_stops_within_unroll(spark, sf_dir, sf):
    """linkage_em_converged unrolls _EM_ROUNDS rounds (the oracle's
    depth); a fixture whose first below-grain round lies past the
    unroll would report no stop, and the query (plus its oracle) must
    grow rounds."""
    rows = _ops.QUERIES["linkage_em_converged"](
        spark, os.path.join(os.path.dirname(sf_dir), sf)
    ).collect()
    stops = {r.stop_round for r in rows}
    assert len(stops) == 1
    stop = stops.pop()
    assert stop is not None and stop <= _EM_ROUNDS, stop
