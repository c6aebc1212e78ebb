"""Tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import gen
import run
import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_documents_repeat_per_seed_and_differ_across_seeds(tmp_path):
    a = gen.write_documents(str(tmp_path / "a"), 7, 500)
    b = gen.write_documents(str(tmp_path / "b"), 7, 500)
    c = gen.write_documents(str(tmp_path / "c"), 8, 500)
    doc = "documents.parquet"
    assert _bytes(os.path.join(a, doc)) == _bytes(os.path.join(b, doc))
    assert _bytes(os.path.join(a, doc)) != _bytes(os.path.join(c, doc))


def test_documents_follow_the_fixture_schema():
    t = gen.documents_table(3, 200)
    assert t.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    texts = t.column("text").to_pylist()
    assert t.column("n_chars").to_pylist() == [len(x) for x in texts]
    assert any(gen.REPLY_MARKER in x for x in texts)
    assert any("[.]" in x for x in texts)


def test_tweet_files_repeat_per_seed_and_differ_across_seeds(tmp_path):
    a = gen.cached_tweet_file(str(tmp_path / "a"), 7, 2, 50, 80)
    b = gen.cached_tweet_file(str(tmp_path / "b"), 7, 2, 50, 80)
    c = gen.cached_tweet_file(str(tmp_path / "c"), 8, 2, 50, 80)
    assert _bytes(a[0]) == _bytes(b[0]) and a[1:] == b[1:]
    assert _bytes(a[0]) != _bytes(c[0])
    # the cache returns what was generated
    assert gen.tweet_file(7, 2, 50, 80)[1:] == (a[1], a[2])


def test_tweet_manifest_skips_retweets_and_malformed_lines():
    lines, manifest, n = gen.tweet_file(11, 0, 300, 300)
    assert len(lines) == n == 300
    kept = set()
    for line in lines:
        try:
            t = json.loads(line)
        except json.JSONDecodeError:
            continue
        if not (t["retweeted"] or t["text"].startswith("RT @")):
            kept.add(str(t["id"]))
    assert {tid for tid, _, _ in manifest} <= kept
    assert any(not line.endswith("}") for line in lines)


def test_kv_stand_in_digest_is_order_insensitive():
    class Acc:
        value = (0, 0, 0.0, 0)

        def add(self, v):
            self.value = W.PostStats().addInPlace(self.value, v)

    rows = [dict(zip(W.FLAGSHIP_COLS, [f"v{i}", "d", None, f"ioc{i}", "p",
                                       "s", "t", "ip"])) for i in range(5)]
    payloads = [json.dumps({k: v for k, v in r.items() if v is not None})
                for r in rows]
    one, two = Acc(), Acc()
    W.KVStandIn(one)(payloads[:3])
    W.KVStandIn(one)(payloads[3:])
    W.KVStandIn(two)(payloads[::-1])
    expected = sum(W.record_hash(r[c] for c in W.FLAGSHIP_COLS)
                   for r in rows) % W.MOD
    assert one.value[3] == two.value[3] == expected
    assert (one.value[0], one.value[1]) == (2, 5)


def test_tail_needs_ten_samples_beyond_it():
    assert W.tail([1.0] * 19)[0] == 0
    assert W.tail(list(range(40)))[0] == 75
    assert W.tail(list(range(100)))[0] == 90


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])
