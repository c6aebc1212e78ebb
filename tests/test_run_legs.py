"""session.run_legs: the one driver-thread overlap primitive.

Pins its contract (argument-order results, leg exceptions propagate) and
the rule it enforces: no leg may change session conf, either through
``sinks.bucketed.scoped_conf`` (refused on a leg thread) or a bare
``spark.conf.set`` (caught by the before/after conf comparison)."""

from __future__ import annotations

import pathlib
import re
import time

import pytest

from cybersecurity_ioc_etl_spark.session import run_legs
from cybersecurity_ioc_etl_spark.sinks.bucketed import (
    bucket_filter_pruning,
    scoped_conf,
)

_PKG = pathlib.Path(__file__).resolve().parents[1] / "cybersecurity_ioc_etl_spark"
_KEY = "spark.sql.sources.bucketing.autoBucketedScan.enabled"


def test_results_in_argument_order(spark):
    def slow(v):
        # the first leg finishes last, so completion order is reversed
        def leg():
            time.sleep(0.05 * (3 - v))
            return v

        return leg

    assert run_legs(spark, slow(0), slow(1), slow(2)) == [0, 1, 2]
    assert run_legs(spark, lambda: spark.range(7).count()) == [7]


def test_leg_exception_propagates(spark):
    def boom():
        raise ValueError("leg failed")

    with pytest.raises(ValueError, match="leg failed"):
        run_legs(spark, lambda: 1, boom)


def test_scoped_conf_inside_leg_raises_and_conf_unchanged(spark):
    before = spark.conf.getAll

    def leg():
        with scoped_conf(spark, _KEY, "false"):
            return spark.range(3).count()

    with pytest.raises(RuntimeError, match="run_legs leg"):
        run_legs(spark, leg)
    assert spark.conf.getAll == before


def test_scoped_conf_around_run_legs_still_works(spark):
    # serve_ivfpq_stored runs its legs inside bucket_filter_pruning
    with bucket_filter_pruning(spark):
        seen = run_legs(spark, lambda: spark.conf.get(_KEY), lambda: 1)
    assert seen == ["false", 1]
    assert spark.conf.get(_KEY, None) != "false"


def test_unrestored_conf_set_in_leg_raises(spark):
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        with pytest.raises(RuntimeError, match="changed the session conf"):
            run_legs(spark, lambda: spark.conf.set(key, "7"))
    finally:
        spark.conf.set(key, saved)


def test_thread_pools_only_in_session_module():
    pat = re.compile(r"concurrent\.futures|ThreadPoolExecutor")
    hits = sorted(
        str(p.relative_to(_PKG))
        for p in _PKG.rglob("*.py")
        if pat.search(p.read_text())
    )
    assert hits == ["session.py"]
