"""The reference's batch entry point (`h-isac.py main()`, lines 141-180)
as ONE assembled engine job — the end-to-end workflow a migrating user
runs instead of `python3 h-isac.py <folder> [--splunk cfg]`.

Stage map (SURVEY §3.1 trace → engine):
  get_messages + Restrict       → feed scan with Catalyst pushdown
  subject filter + parse loop   → ioc_table (filter → extract → explode)
  push_to_splunk | to_csv fork  → post_batched | splunkkv | write_csv
  metrics update + state file   → one-row run counts → metrics append

On the KV-poster fork the sink is a pass-through stage, so one job
extracts, posts and counts; the CSV and splunkkv forks write a cached
table and count it in a second job.

Divergences fixed (SURVEY §4.3): both sinks work independently (the
reference crashed when --splunk was omitted, h-isac.py:210); metrics
count PARSED feed items, not restricted ones (h-isac.py:176); state
lives in an append-only table instead of a stamp-then-overwrite JSON
file.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.ioc import IOC_TYPES
from .operators.ioc_queries import ioc_table
from .sinks.kv import post_batched, write_csv


def run_hisac_batch(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    poster: Callable[[list[str]], Any] | None = None,
    kv_url: str | None = None,
) -> dict[str, int]:
    """Run the full batch pipeline; returns the run metrics.

    ``poster`` given → KV sink (batched, partition-parallel);
    ``kv_url`` given → the first-class splunkkv sink (CLI ``--splunk``
    fork, config-validated per S10); otherwise → CSV under ``out_dir``
    (the reference's fork at h-isac.py:164-168, minus its crash when
    the flag is absent).  Metrics append to ``{out_dir}/metrics``
    either way, one row per IOC type present.

    The poster fork runs as one pass with nothing cached: the sink
    passes each posted row's ``(id, type)`` on to the run-count
    aggregate, which the same action collects.  The other two forks
    write through a Spark writer, which returns nothing, so they cache
    the IOC table and count it in a second action — at 100 TB prefer a
    persisted intermediate table over the cache.
    """
    iocs = ioc_table(spark, sf_dir)
    if poster is not None:
        counts = _run_counts(post_batched(iocs, poster, keep=("id", "type")))
    else:
        iocs = iocs.cache()
        try:
            if kv_url is not None:
                iocs.write.format("splunkkv").option("url", kv_url).mode(
                    "append"
                ).save()
            else:
                write_csv(iocs, os.path.join(out_dir, "iocs_csv"), single_file=False)
            counts = _run_counts(iocs)
        finally:
            iocs.unpersist()
    _append_metrics(spark, counts, os.path.join(out_dir, "metrics"))
    per_type = {t: counts[t] for t in IOC_TYPES if counts[t]}
    return {
        "n_iocs": sum(per_type.values()),
        "n_messages": counts["n_messages"],
        **per_type,
    }


def _run_counts(iocs: DataFrame) -> dict[str, int]:
    """Per-type IOC counts and distinct message count, as ONE collected
    row: per-message type counts, then their global sums."""
    per_msg = iocs.groupBy("id").agg(
        *(F.count_if(F.col("type") == t).alias(t) for t in IOC_TYPES)
    )
    row = per_msg.agg(
        F.count("*").alias("n_messages"),
        *(F.coalesce(F.sum(t), F.lit(0)).alias(t) for t in IOC_TYPES),
    ).collect()[0]
    return row.asDict()


def _append_metrics(spark: SparkSession, counts: dict[str, int], path: str) -> None:
    """Append this run's per-type counts to the metrics table (S8, the
    ``write_metrics`` schema), one row per type present, as a single-task
    job built JVM-side from the collected counts — no Python worker and
    no rescan of the IOCs."""
    rows = ", ".join(
        f"struct('{t}' AS type, {counts[t]}L AS n_iocs)" for t in IOC_TYPES
    )
    (
        spark.range(1, numPartitions=1)
        .selectExpr(f"inline(array({rows}))")
        .where("n_iocs > 0")
        .withColumn("run_ts", F.current_timestamp())
        .write.mode("append")
        .parquet(path)
    )
