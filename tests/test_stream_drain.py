"""streaming.drain: the one lifecycle of an availableNow stream run.

Pins its contract: bid-keyed partials survive an at-least-once replay,
every query starts under the stream shuffle scope, what the module
created is released when the run ends, and no other package module
starts or drains a stream on its own."""

from __future__ import annotations

import inspect
import json
import os
import pathlib
import re
import tempfile

import pyspark.errors
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import __spark_entry__ as entry
from cybersecurity_ioc_etl_spark.streaming import monitor
from cybersecurity_ioc_etl_spark.streaming.drain import (
    _STREAM_SHUFFLE_PARTS,
    _write_partial_bid,
    drain_partials,
)
from cybersecurity_ioc_etl_spark.streaming.stateful import (
    running_ioc_type_totals,
    windowed_counts_with_watermark,
)

_PKG = pathlib.Path(__file__).resolve().parents[1] / "cybersecurity_ioc_etl_spark"


_PARTIAL = "k bigint, n bigint"


def _count_by_k(batch, _bid):
    return batch.groupBy("k").agg(F.count("*").alias("n"))


def _fold(parts):
    return sorted(
        map(tuple, parts.groupBy("k").agg(F.sum("n").alias("n")).collect())
    )


def test_drain_partials_crash_resume_equals_clean_run(spark, tmp_path):
    """A crash after bid 1's partial write but before its epoch commits:
    the resumed run re-fires bid 1, the overwrite recomputes b1, and the
    fold equals a clean run — no double count."""
    staged = spark.range(0, 40, numPartitions=4).selectExpr("id", "id % 3 AS k")
    work = str(tmp_path / "work")
    armed = [True]

    def per_batch(batch, bid):
        part = batch.groupBy("k").agg(F.count("*").alias("n"))
        if bid == 1 and armed[0]:
            armed[0] = False
            _write_partial_bid(part, os.path.join(work, "partials"), bid)
            raise RuntimeError("crash after the partial write")
        return part

    with pytest.raises(pyspark.errors.StreamingQueryException):
        drain_partials(spark, staged, per_batch, _PARTIAL, work_dir=work)
    assert os.path.exists(os.path.join(work, "partials", "b1", "_SUCCESS"))
    resumed = _fold(
        drain_partials(spark, staged, per_batch, _PARTIAL, work_dir=work)
    )
    clean = _fold(drain_partials(spark, staged, per_batch, _PARTIAL))
    assert resumed == clean
    assert sum(n for _, n in resumed) == 40


def test_drain_partials_refuses_an_undeclared_partial_schema(spark, tmp_path):
    """A partial whose schema is not the declared one stops the query
    at its first write, and the error names both schemas."""
    staged = spark.range(0, 8, numPartitions=2).selectExpr("id", "id % 3 AS k")
    work = str(tmp_path / "work")
    with pytest.raises(pyspark.errors.StreamingQueryException) as err:
        drain_partials(spark, staged, _count_by_k, "k bigint, n int", work_dir=work)
    assert "struct<k:bigint,n:bigint>" in str(err.value)
    assert "struct<k:bigint,n:int>" in str(err.value)
    assert os.listdir(os.path.join(work, "partials")) == []


def test_drain_partials_empty_stream_returns_declared_schema(spark):
    """No rows staged: zero rows back, with exactly the declared schema."""
    declared = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("n", T.LongType())]
    )
    staged = spark.range(0, 0, numPartitions=2).selectExpr("id", "id % 3 AS k")
    parts = drain_partials(spark, staged, _count_by_k, declared)
    assert parts.schema == declared
    assert parts.count() == 0


def _run_totals(spark, src, ckpt, out):
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(json.dumps({"type": "ip"}) + "\n")
    rows = spark.readStream.schema("type string").json(src)
    running_ioc_type_totals(rows, ckpt, out)


def _run_windows(spark, src, ckpt, out):
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(json.dumps({"ts": "2024-01-01 10:05:00", "event_type": "x"}) + "\n")
    windowed_counts_with_watermark(spark, src, ckpt, out)


@pytest.mark.parametrize("run", [_run_totals, _run_windows])
def test_stateful_drains_start_under_stream_shuffle_scope(spark, tmp_path, run):
    """The shuffle-partition count a stateful query starts under is
    written into its first offset log entry and pins its state-store
    layout for every resume: it must be the stream scope, not the
    session's core-count default."""
    assert spark.conf.get("spark.sql.shuffle.partitions") != _STREAM_SHUFFLE_PARTS
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    os.makedirs(src)
    run(spark, src, ckpt, out)
    with open(os.path.join(ckpt, "offsets", "0")) as f:
        meta = json.loads(f.read().splitlines()[1])
    assert meta["conf"]["spark.sql.shuffle.partitions"] == _STREAM_SHUFFLE_PARTS


def test_stream_rows_release_what_they_create(spark, sf_dir, tmp_path, monkeypatch):
    """Three runs each of a memory-sink row and a partials row: the
    catalog stays flat, the memory row leaves no temp entry, and a
    partials run leaves only its partials dir, which the returned frame
    reads lazily."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    qs = entry.queries()
    tables = sorted(t.name for t in spark.catalog.listTables())
    for _ in range(3):
        qs["stream_static_category_counts"](spark, sf_dir).collect()
    assert os.listdir(tmp_path) == []
    for _ in range(3):
        qs["stream_hll_merge"](spark, sf_dir).collect()
    left = os.listdir(tmp_path)
    assert len(left) == 3
    assert all(os.listdir(tmp_path / d) == ["partials"] for d in left)
    assert sorted(t.name for t in spark.catalog.listTables()) == tables


def _hits(pattern: str) -> list[str]:
    pat = re.compile(pattern)
    return sorted(
        str(p.relative_to(_PKG))
        for p in _PKG.rglob("*.py")
        if pat.search(p.read_text())
    )


def test_stream_runs_start_only_in_drain_module():
    """Starting, draining and scratch-dir creation live in
    streaming/drain.py.  The one exemption is
    monitor.write_stream_kv_batched, which hands a RUNNING query back to
    its caller instead of draining it."""
    assert _hits(r"tempfile\.mkdtemp") == ["streaming/drain.py"]
    assert _hits(r"\.awaitTermination\(") == ["streaming/drain.py"]
    assert _hits(r"availableNow=True") == [
        "streaming/drain.py",
        "streaming/monitor.py",
    ]
    # the partials read is drain_partials' alone: no runner lists the
    # committed dirs or re-reads them with an inferred schema
    assert _hits(r"_committed_partial_dirs") == ["streaming/drain.py"]
    assert _hits(r"read\.parquet\(\*dirs\)") == []
    mon = (_PKG / "streaming" / "monitor.py").read_text()
    assert mon.count("availableNow=True") == 1
    assert "availableNow=True" in inspect.getsource(monitor.write_stream_kv_batched)
