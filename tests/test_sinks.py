"""Sink tests — SURVEY.md §2.1 S5-S8: the 1000-record batching contract
(h-isac.py:31-43), JVM-side JSON serialization (injection safety vs
firehose.py:126-128), CSV writer, and the append-only metrics store."""

from __future__ import annotations

import glob
import json
import os
import tempfile
import uuid

from pyspark.sql import functions as F

from cybersecurity_ioc_etl_spark.sinks.kv import (
    rows_to_json,
    write_csv,
    write_kv_batched,
    write_metrics,
)


def _dir_poster(out_dir: str):
    """Poster that records each flushed batch as a file.  Executors run in
    separate Python worker processes, so results must cross via the
    filesystem; a closure (not a module-level class) is used because
    cloudpickle serializes closures by value — test modules aren't
    importable on workers."""

    def post(batch: list[str]) -> None:
        with open(os.path.join(out_dir, uuid.uuid4().hex), "w") as f:
            json.dump(batch, f)

    return post


def _batches(out_dir):
    return [json.load(open(p)) for p in glob.glob(f"{out_dir}/*")]


def test_kv_batching_cap_and_remainder_flush(spark):
    df = spark.range(10).select(F.col("id").alias("ioc")).repartition(1)
    out = tempfile.mkdtemp(prefix="kv_")
    write_kv_batched(df, _dir_poster(out), batch_size=3)
    sizes = sorted(len(b) for b in _batches(out))
    assert sizes == [1, 3, 3, 3]  # three full batches + remainder


def test_kv_batching_is_per_partition(spark):
    df = spark.range(8).select(F.col("id").alias("ioc")).repartition(4)
    out = tempfile.mkdtemp(prefix="kv_")
    write_kv_batched(df, _dir_poster(out), batch_size=1000)
    batches = _batches(out)
    assert sum(len(b) for b in batches) == 8
    assert len(batches) <= 4  # at most one flush per partition


def test_kv_batches_span_arrow_record_batches(spark):
    """Batches stay exactly ``batch_size`` when the rows reach the
    Python worker as several Arrow record batches (4 rows each here)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "4")
    try:
        df = spark.range(10).select(F.col("id").alias("ioc")).repartition(1)
        out = tempfile.mkdtemp(prefix="kv_")
        write_kv_batched(df, _dir_poster(out), batch_size=3)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    batches = _batches(out)
    assert sorted(len(b) for b in batches) == [1, 3, 3, 3]
    assert sorted(json.loads(p)["ioc"] for b in batches for p in b) == list(range(10))


def test_kv_empty_frame_never_posts(spark):
    def poster(batch):
        raise AssertionError("poster called for an empty frame")

    df = spark.range(10).select(F.col("id").alias("ioc")).filter("ioc < 0")
    write_kv_batched(df.repartition(2), poster, batch_size=3)


def test_json_payload_injection_safe(spark):
    """A quote inside a field must survive — the reference's string
    templating (firehose.py:126) breaks here; to_json must not."""
    df = spark.createDataFrame([('evil"quote', "ip")], ["ioc", "type"])
    payload = rows_to_json(df).collect()[0].payload
    assert json.loads(payload) == {"ioc": 'evil"quote', "type": "ip"}


def test_csv_single_file_roundtrip(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    out = os.path.join(tempfile.mkdtemp(prefix="csv_"), "out")
    write_csv(df, out, single_file=True)
    parts = glob.glob(f"{out}/part-*.csv")
    assert len(parts) == 1
    back = spark.read.option("header", True).csv(out)
    assert {(int(r.k), r.v) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_metrics_append_accumulates_runs(spark):
    df = spark.createDataFrame(
        [("1.2.3.4", "ip"), ("8.8.8.8", "ip"), ("deadbeef" * 4, "hash")],
        ["ioc", "type"],
    )
    path = os.path.join(tempfile.mkdtemp(prefix="metrics_"), "m")
    write_metrics(df, path)
    write_metrics(df, path)  # second run appends, never overwrites
    totals = {
        r.type: r.total
        for r in spark.read.parquet(path)
        .groupBy("type")
        .agg(F.sum("n_iocs").alias("total"))
        .collect()
    }
    assert totals == {"ip": 4, "hash": 2}


def test_poster_failure_propagates_for_retry(spark):
    """Delivery semantics: a poster exception fails the task (surfacing
    to the job), it is not swallowed — at-least-once with idempotent KV
    keys, same assumption the reference's batch_save makes."""
    import pytest

    def bad_poster(batch):
        raise RuntimeError("kv endpoint down")

    df = spark.createDataFrame([("x", "ip")], ["ioc", "type"])
    with pytest.raises(Exception, match="kv endpoint down"):
        write_kv_batched(df, bad_poster, batch_size=10)


def test_compact_parquet_bounds_file_count(spark, sf_dir):
    import tempfile

    from cybersecurity_ioc_etl_spark.sinks.kv import compact_parquet
    from cybersecurity_ioc_etl_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").repartition(32)  # simulate many reducers
    out = os.path.join(tempfile.mkdtemp(prefix="compact_"), "li")
    n_files = compact_parquet(li, out, target_mb=1)
    parts = glob.glob(f"{out}/part-*.parquet")
    assert len(parts) == n_files < 32  # fewer, larger files than reducer count
    assert spark.read.parquet(out).count() == li.count()


def test_observed_write_audits_in_one_pass(spark, sf_dir, tmp_path):
    """write_with_audit must produce the audit metrics from the SAME job
    that wrote the files (df.observe), and they must match the data."""
    from cybersecurity_ioc_etl_spark.operators.ioc_queries import ioc_table
    from cybersecurity_ioc_etl_spark.sinks.kv import write_with_audit

    df = ioc_table(spark, sf_dir)
    out = str(tmp_path / "audited")
    metrics = write_with_audit(df, out)

    back = spark.read.parquet(out)
    assert metrics["n_rows"] == back.count() > 0
    assert metrics["n_null_ioc"] == 0
    # HLL estimate of a 4-value column is exact at this cardinality
    assert metrics["n_types"] == back.select("type").distinct().count()
