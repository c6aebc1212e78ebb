"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]``; the confs below are the ones that matter
identically on a 1000-executor cluster: AQE (runtime shuffle-partition
coalescing + skew-join splitting), Arrow for the few Pandas-UDF stages,
and a UTC session timezone so date/timestamp rendering is deterministic
across engines (the DuckDB oracle also runs in UTC).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import SparkSession

# Name prefix of run_legs pool threads; sinks.bucketed.scoped_conf
# refuses to run on a thread that carries it.
LEG_THREAD_PREFIX = "run_legs"


def get_spark(app_name: str = "cybersecurity-ioc-etl-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # AQE: runtime coalescing of shuffle partitions + skew-join handling.
        # At 100 TB this is what keeps 200-byte and 2-GB partitions from
        # sharing a static partition count.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # sized for local[32]; a cluster deployment overrides via spark-submit
        .config("spark.sql.shuffle.partitions", "32")
        # Arrow transfer for pandas_udf / mapInPandas stages (enrichment,
        # multimodal decode) — row-at-a-time Python UDFs are banned in this
        # codebase.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown is gated off by default in
        # PySpark 4.1; without this every spark.read.format("splunkkv")
        # fails with DATA_SOURCE_PUSHDOWN_DISABLED because KVStoreReader
        # implements pushFilters() (sources/kvstore_datasource.py).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # deterministic timestamp rendering (matches the DuckDB oracle)
        .config("spark.sql.session.timeZone", "UTC")
        # the events fixture stores TIMESTAMP(NANOS) which the Spark parquet
        # reader rejects outright; read as raw int64 nanos and convert
        # JVM-side (sources.readers.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    # first-class KV source/sink (sources/kvstore_datasource.py) — makes
    # spark.read/write.format("splunkkv") available on every session.
    # Registration is idempotent (re-registering replaces the entry).
    from .sources.kvstore_datasource import KVStoreDataSource

    spark.dataSource.register(KVStoreDataSource)
    return spark


def run_legs(spark: SparkSession, *legs: Callable[[], Any]) -> list:
    """Run independent zero-argument Spark job chains ("legs") from
    driver threads, one thread per leg, so one chain's tasks back-fill
    the other chains' barrier gaps.  Returns the results in argument
    order; a failing leg's exception is re-raised after every leg has
    finished (the first failing leg in argument order wins).

    Rule: no leg may change session conf.  The SQL conf belongs to the
    session, not the thread, and Spark plans lazily, so a leg that sets
    a conf and restores it (``scoped_conf`` / ``bucket_filter_pruning``)
    changes it under its sibling legs' jobs, which then plan with or
    without the override depending on timing (ADVICE r6: an override
    set inside an operator leaked into later plans).  Scope a conf
    around the whole ``run_legs`` call instead.  Both halves of the rule
    are checked: ``scoped_conf`` raises on a leg thread, and the session
    conf is compared (one JVM call each side) before and after the legs,
    which catches a bare ``spark.conf.set``."""
    jconf = spark._jsparkSession.sessionState().conf()
    before = jconf.getAllConfs()
    with ThreadPoolExecutor(
        max_workers=len(legs), thread_name_prefix=LEG_THREAD_PREFIX
    ) as pool:
        futures = [pool.submit(leg) for leg in legs]
        results = [f.result() for f in futures]
    after = jconf.getAllConfs()
    if not before.equals(after):
        raise RuntimeError(
            "a run_legs leg changed the session conf: "
            f"before {before.toSet().diff(after.toSet()).toString()}, "
            f"after {after.toSet().diff(before.toSet()).toString()}"
        )
    return results
