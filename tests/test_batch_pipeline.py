"""End-to-end batch pipeline (the reference's `h-isac.py main()` as one
engine job — cybersecurity_ioc_etl_spark/batch.py)."""

from __future__ import annotations

import glob

import pytest

from cybersecurity_ioc_etl_spark.batch import run_hisac_batch


def test_csv_fork_writes_and_counts(spark, sf_dir, tmp_path):
    out = str(tmp_path / "run1")
    m = run_hisac_batch(spark, sf_dir, out)
    assert m["n_iocs"] > 0 and m["n_messages"] > 0
    assert set(m) >= {"ip", "hash", "url", "email"}

    back = spark.read.option("header", True).csv(f"{out}/iocs_csv")
    assert back.count() == m["n_iocs"]
    # metrics table accumulated this run
    mt = spark.read.parquet(f"{out}/metrics")
    assert mt.count() == 4  # one row per type


def test_kv_fork_batches_without_csv(spark, sf_dir, tmp_path):
    """The reference crashed when --splunk was omitted (h-isac.py:210);
    here both forks work and the KV fork posts every row exactly once."""
    import json

    out = str(tmp_path / "run2")
    posted: list[str] = []

    class Collect:
        """Executor-side collector via local filesystem (local-mode test)."""
        def __init__(self, d): self.d = d
        def __call__(self, batch):
            import os, uuid
            with open(os.path.join(self.d, uuid.uuid4().hex), "w") as f:
                f.write("\n".join(batch))

    bdir = tmp_path / "batches"; bdir.mkdir()
    m = run_hisac_batch(spark, sf_dir, out, poster=Collect(str(bdir)))
    rows = []
    for p in glob.glob(f"{bdir}/*"):
        rows += open(p).read().splitlines()
    assert len(rows) == m["n_iocs"]
    assert json.loads(rows[0])["platform"] == "H-ISAC"
    # CSV fork was not taken
    assert not glob.glob(f"{out}/iocs_csv/*")


def _dir_poster(d):
    """Executor-side poster: each batch becomes one JSON file in ``d``.
    A closure, so cloudpickle ships it by value to the workers."""
    import json
    import os
    import uuid

    def post(batch):
        with open(os.path.join(d, uuid.uuid4().hex), "w") as f:
            json.dump(batch, f)

    return post


def _posted(d) -> list[str]:
    import json

    return [p for f in glob.glob(f"{d}/*") for p in json.load(open(f))]


def _independent_counts(spark, sf_dir) -> dict[str, int]:
    from cybersecurity_ioc_etl_spark.operators.ioc_queries import ioc_table

    t = ioc_table(spark, sf_dir)
    per_type = {r["type"]: r["count"] for r in t.groupBy("type").count().collect()}
    return {
        "n_iocs": sum(per_type.values()),
        "n_messages": t.select("id").distinct().count(),
        **per_type,
    }


@pytest.mark.parametrize("fork", ["poster", "csv"])
def test_run_counts_match_independent_aggregates(spark, sf_dir, tmp_path, fork):
    """The one-row run-count aggregate equals a per-type groupBy plus a
    distinct-id count over the same IOC table, on both forks."""
    bdir = tmp_path / "batches"
    bdir.mkdir()
    poster = _dir_poster(str(bdir)) if fork == "poster" else None
    m = run_hisac_batch(spark, sf_dir, str(tmp_path / "run"), poster=poster)
    assert m == _independent_counts(spark, sf_dir)


def test_poster_fork_is_one_uncached_pass(spark, sf_dir, tmp_path, monkeypatch):
    """The poster fork caches nothing and posts every IOC record
    exactly once."""
    from collections import Counter

    from cybersecurity_ioc_etl_spark.operators.ioc_queries import ioc_table
    from cybersecurity_ioc_etl_spark.sinks.kv import rows_to_json

    expected = Counter(
        r.payload for r in rows_to_json(ioc_table(spark, sf_dir)).collect()
    )

    def no_cache(self):
        raise AssertionError("the poster fork must not cache")

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    bdir = tmp_path / "batches"
    bdir.mkdir()
    with monkeypatch.context() as mp:
        mp.setattr(type(spark.range(1)), "cache", no_cache)
        m = run_hisac_batch(
            spark, sf_dir, str(tmp_path / "run"), poster=_dir_poster(str(bdir))
        )
    assert set(jsc.getPersistentRDDs().keys()) == before
    assert Counter(_posted(bdir)) == expected
    assert m["n_iocs"] == sum(expected.values())


def test_each_run_appends_one_metrics_file(spark, sf_dir, tmp_path):
    """Every run appends exactly one metrics file holding one row per IOC
    type present in that run."""
    out = str(tmp_path / "run")
    bdir = tmp_path / "batches"
    bdir.mkdir()
    for n_runs in (1, 2):
        m = run_hisac_batch(spark, sf_dir, out, poster=_dir_poster(str(bdir)))
        files = sorted(glob.glob(f"{out}/metrics/part-*.parquet"))
        assert len(files) == n_runs
    per_type = {k: v for k, v in m.items() if k not in ("n_iocs", "n_messages")}
    for f in files:
        rows = spark.read.parquet(f).collect()
        assert {r.type: r.n_iocs for r in rows} == per_type
