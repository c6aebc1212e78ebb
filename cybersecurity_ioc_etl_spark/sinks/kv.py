"""Sinks — SURVEY.md §2.1 S5-S8.

The reference's Splunk KV sink serializes row-by-row on one thread and
flushes 1 000-record JSON batches (h-isac.py:11-44); its streaming path
posts one HTTPS request per IOC (firehose.py:131-133).  Here both become
partition-parallel batched writers: ``to_json(struct(*))`` happens
JVM-side (eliminating the injection-prone string templating at
firehose.py:126-128), the payloads cross to the Python worker as Arrow
record batches (one string column, no per-row pickling), and each
partition independently buffers and flushes ``batch_size`` records, so
sink throughput scales with executor count instead of being a single
synchronous loop.  ``post_batched`` is the sink as a pass-through stage,
so a caller can aggregate what was posted in the same job.

The HTTP transport is injectable (``poster``) — tests inject a collector;
a real deployment injects a requests-based poster with auth.  No network
I/O happens in this module by default.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SPLUNK_BATCH_LIMIT = 1000  # Splunk batch_save cap (h-isac.py:34-36)


def rows_to_json(df: DataFrame, *keep: str) -> DataFrame:
    """Serialize every row to a JSON string column JVM-side (T15) —
    replaces the per-row ``data.loc[row, :].to_json()`` loop
    (h-isac.py:31-32).  ``keep`` columns ride along after ``payload``."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("payload"), *keep)


def post_batched(
    df: DataFrame,
    poster: Callable[[list[str]], Any],
    batch_size: int = SPLUNK_BATCH_LIMIT,
    keep: Sequence[str] = (),
) -> DataFrame:
    """Batched KV sink (S5) as a lazy pass-through stage: per-partition
    buffering with ``batch_size`` flushes + a final remainder flush — the
    exact batching contract of h-isac.py:31-43, parallel across
    partitions.  Batches span Arrow record-batch boundaries.

    Returns the ``keep`` columns of every posted row; nothing is posted
    until an action runs the returned frame.  ``poster`` receives a list
    of JSON strings (one batch).  It must be picklable (it runs on
    executors); its exceptions fail the task.
    """

    def post(batches: Iterator[Any]) -> Iterator[Any]:
        buf: list[str] = []
        for rb in batches:
            buf.extend(rb.column(0).to_pylist())
            full = len(buf) - len(buf) % batch_size
            for i in range(0, full, batch_size):
                poster(buf[i : i + batch_size])
            del buf[:full]
            if keep:
                yield rb.select(keep)
        if buf:  # remainder flush (h-isac.py:41-43)
            poster(buf)

    return rows_to_json(df, *keep).mapInArrow(post, df.select(*keep).schema)


def write_kv_batched(
    df: DataFrame,
    poster: Callable[[list[str]], Any],
    batch_size: int = SPLUNK_BATCH_LIMIT,
) -> None:
    """Post every row of ``df`` through ``post_batched`` (one job, a
    ``noop`` write drives the stage)."""
    post_batched(df, poster, batch_size).write.format("noop").mode(
        "overwrite"
    ).save()


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink (S7, h-isac.py:166-168).  ``single_file=True`` coalesces
    to one part for parity with pandas ``to_csv`` — only sane for small
    outputs; large extracts keep their partitioning."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_metrics(df: DataFrame, path: str) -> None:
    """Metrics/state store (S8): append per-run per-type counts to a
    parquet table — replaces the read-modify-write JSON state file
    (h-isac.py:125-139,177-179).  Totals are a query over the table
    (sum over runs), so concurrent runs can't lose updates the way the
    reference's stamp-then-overwrite dance can (SURVEY §4.3.2)."""
    (
        df.groupBy("type")
        .agg(F.count("*").alias("n_iocs"))
        .withColumn("run_ts", F.current_timestamp())
        .write.mode("append")
        .parquet(path)
    )


def compact_parquet(
    df: DataFrame,
    path: str,
    target_mb: int = 128,
    sample_rows: int = 10_000,
) -> int:
    """Write `df` as parquet with files sized near ``target_mb`` — the
    small-files remedy.  A 100 TB table written by 10 000 reducers at
    default settings is millions of KB-files; every later scan pays a
    listing + open per file.  Row width is estimated from a bounded
    sample (to_json length ~ upper bound of parquet row cost, so the
    estimate errs toward MORE files, never fewer-but-huge), then the
    frame is repartitioned to ceil(total/target) before the write.
    Returns the file count written."""
    n_rows = df.count()
    if n_rows == 0:
        df.write.mode("overwrite").parquet(path)
        return 0
    sample = df.limit(sample_rows).select(
        F.avg(F.length(F.to_json(F.struct(*df.columns)))).alias("w")
    ).collect()[0].w
    est_total_mb = (sample or 1) * n_rows / 1e6
    n_files = max(1, int(est_total_mb // target_mb) + 1)
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return n_files


def write_with_audit(df: DataFrame, path: str) -> dict[str, int]:
    """Parquet write with a same-pass audit: row count, null-IOC count,
    and distinct-type count ride the write via ``df.observe`` — no
    second scan of the data.

    At 100 TB the difference between this and write-then-validate is a
    full extra pass over the table; Observation metrics are accumulated
    executor-side per task and merged on the driver, costing nothing
    beyond the expressions themselves.  Returns the metrics dict (keys:
    n_rows, n_null_ioc, n_types).
    """
    from pyspark.sql import Observation

    obs = Observation("write_audit")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("ioc").isNull(), 1).otherwise(0)).alias("n_null_ioc"),
        F.approx_count_distinct("type").alias("n_types"),
    )
    observed.write.mode("overwrite").parquet(path)
    got = obs.get
    return {
        "n_rows": int(got["n_rows"]),
        "n_null_ioc": int(got["n_null_ioc"] or 0),
        "n_types": int(got["n_types"]),
    }
