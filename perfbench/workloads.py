"""The benchmark's three closed-loop workloads, one client each.

Each workload drives the engine only through its public entry points and
checks every operation's output; a failed check counts in ``fail_rate``
and the operation stays in the sample.

* ``hisac_batch``: one ``batch.run_hisac_batch`` call over a seeded
  ``documents.parquet``, posting to ``KVStandIn``.  Checked against the
  DuckDB ``ioc_flagship`` oracle over the same directory.
* ``tweet_stream``: drop one seeded tweet file, then resume
  ``streaming.pipeline.run_ioc_stream`` on the same checkpoint and sink.
  Checked against the generator's manifest.
* ``query_mix``: passes over ``MIX`` in a seeded order, collecting each
  result in full.  Checked against ``oracle_sql()`` with the
  normalisation of the repository's oracle-parity test.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.accumulators import AccumulatorParam

import gen
from census import TriggerListener, progress_start

HISAC_DOCS = 10_000
# narrow, so throughput does not follow the seed's file sizes
TWEETS_PER_FILE = (195, 205)
# Warm-up operations at the workload's own input size.  With one warm-up
# call at a 300-document input, the measured 20,000-document calls were
# still speeding up through the sample (5 s, then 4 s, then about 3 s).
WARMUP_OPS = {"hisac_batch": 2, "tweet_stream": 3, "query_mix": 1}
WARMUP_FILE_INDEX = 100_000
# One query per operator module from ioc_queries to linkage, with the
# roadmap's carried linkage target beside the sub-second ones.  The
# ivfpq_upsert_topk, nn_graph_serve_topk and trade_louvain_move targets
# are left out: with them a pass and its warm-up take over a minute, more
# than one run of the benchmark may spend.
MIX = (
    "ioc_type_counts", "ioc_typosquat_candidates", "pricing_summary",
    "shipping_priority", "events_sessionize", "tfidf_doc_similarity_pairs",
    "minhash_band_pairs", "simhash_neardup_pairs", "knn_cosine_topk",
    "incremental_linkage_maintenance", "pagerank_nations",
)
FLAGSHIP_COLS = ("id", "date_added", "date_received", "ioc", "platform",
                 "source", "tag", "type")
FIXTURE_TABLES = ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split()
MOD = 1 << 64


def record_hash(values) -> int:
    s = "\x1f".join("\x00" if v is None else str(v) for v in values)
    return int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(),
                          "big")


class PostStats(AccumulatorParam):
    """(batches, records, seconds posting, order-insensitive digest)."""

    def zero(self, value):
        return (0, 0, 0.0, 0)

    def addInPlace(self, a, b):
        return (a[0] + b[0], a[1] + b[1], a[2] + b[2], (a[3] + b[3]) % MOD)


class KVStandIn:
    """Picklable stand-in for the Splunk KV poster: it runs on the
    executors and reports through a Spark accumulator."""

    def __init__(self, acc):
        self.acc = acc

    def __call__(self, batch: list[str]) -> None:
        t0 = time.perf_counter()
        digest = 0
        for payload in batch:
            rec = json.loads(payload)
            digest += record_hash(rec.get(c) for c in FLAGSHIP_COLS)
        self.acc.add((1, len(batch), time.perf_counter() - t0, digest % MOD))


def tail(values: list[float]) -> tuple[int, float]:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples
    beyond it, as (percentile, value); (0, nan) below 20 samples."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(values, n=100)[p - 1]
    return 0, math.nan


def _fail(what: str) -> None:
    print(f"# check failed: {what}", file=sys.stderr)


class Workload:
    """One workload: ``prepare`` makes inputs and expected outputs,
    ``warmup`` runs its own operations before the timed loop, ``step`` runs one
    closed-loop step and returns its operation records."""

    def __init__(self, ctx):
        self.ctx = ctx

    def final_check(self) -> bool:
        """A check over the whole run, after the timed loop."""
        return True

    def run_layers(self) -> dict:
        """Per-layer metrics that are run totals, not per operation."""
        return {}

    def trace_notes(self, plain: list[dict], traced: list[dict]) -> dict:
        """Extra numbers a traced run reports beside the overhead."""
        return {}


# --- hisac_batch -------------------------------------------------------------

class HisacBatch(Workload):
    name = "hisac_batch"

    def prepare(self):
        c = self.ctx
        self.dir = gen.write_documents(
            os.path.join(c.inputs, f"hisac-s{c.seed}-n{HISAC_DOCS}"), c.seed,
            HISAC_DOCS)
        self.expected = self._expected(self.dir)
        self.out = os.path.join(c.run_dir, "hisac_out")
        self.metrics_path = os.path.join(c.run_dir, "hisac_traced_out", "metrics")

    def _expected(self, sf_dir: str) -> dict:
        """Oracle result over ``sf_dir``, computed once per seed."""
        path = os.path.join(sf_dir, "expected.json")
        if not os.path.exists(path):
            import duckdb

            con = duckdb.connect()
            try:
                con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                            f"'{sf_dir}/documents.parquet'")
                res = con.execute(self.ctx.oracles["ioc_flagship"])
                cols = [d[0] for d in res.description]
                idx = [cols.index(c) for c in FLAGSHIP_COLS]
                digest, per_type, n = 0, {}, 0
                for row in res.fetchall():
                    vals = [row[i] for i in idx]
                    digest = (digest + record_hash(vals)) % MOD
                    per_type[vals[-1]] = per_type.get(vals[-1], 0) + 1
                    n += 1
            finally:
                con.close()
            with open(path + ".partial", "w") as f:
                json.dump({"records": n, "digest": digest, "per_type": per_type}, f)
            os.replace(path + ".partial", path)
        with open(path) as f:
            return json.load(f)

    def _poster(self, spark):
        acc = spark.sparkContext.accumulator((0, 0, 0.0, 0), PostStats())
        return acc, KVStandIn(acc)

    def _check(self, posted, per_type: dict | None) -> bool:
        e = self.expected
        ok = posted[1] == e["records"] and posted[3] == e["digest"]
        if per_type is not None:
            ok = ok and per_type == e["per_type"]
        if not ok:
            _fail(f"hisac_batch: posted {posted[1]} records, digest "
                  f"{posted[3]}, per-type {per_type}; oracle {e}")
        return ok

    def warmup(self, spark):
        from cybersecurity_ioc_etl_spark.batch import run_hisac_batch

        for _ in range(WARMUP_OPS[self.name]):
            _, poster = self._poster(spark)
            run_hisac_batch(spark, self.dir, os.path.join(self.ctx.run_dir, "warm"),
                            poster=poster)

    def step(self, spark, i, tracer=None, census=None) -> list[dict]:
        if tracer is not None:
            return [self._traced(spark, tracer, census)]
        from cybersecurity_ioc_etl_spark.batch import run_hisac_batch

        acc, poster = self._poster(spark)
        t0 = time.perf_counter()
        m = run_hisac_batch(spark, self.dir, self.out, poster=poster)
        wall = time.perf_counter() - t0
        per_type = {k: v for k, v in m.items() if k not in ("n_iocs", "n_messages")}
        return [{"wall": wall, "ok": self._check(acc.value, per_type),
                 "items": HISAC_DOCS}]

    def _traced(self, spark, tracer, census) -> dict:
        """The batch call split into its public steps, each timed."""
        from cybersecurity_ioc_etl_spark.operators.ioc_queries import ioc_table
        from cybersecurity_ioc_etl_spark.sinks.kv import write_kv_batched, write_metrics
        from cybersecurity_ioc_etl_spark.sources.readers import synthetic_feed

        acc, poster = self._poster(spark)
        marks = []

        def call(name, layer, fn):
            first = census.next_job_id()
            with tracer.span(name, op["id"], layer=layer) as sp:
                out = fn()
            marks.append((sp, first, census.next_job_id(), layer))
            return out

        first = census.next_job_id()
        with tracer.span("operation", tracer.root, workload=self.name) as op:
            call("sources.synthetic_feed.count", "sources.readers",
                 lambda: synthetic_feed(spark, self.dir).count())
            cached = ioc_table(spark, self.dir).cache()
            n = call("ioc.ioc_table.cache.count", "functions.ioc", cached.count)
            call("kv.write_kv_batched", "sinks.kv",
                 lambda: write_kv_batched(cached, poster))
            call("kv.write_metrics", "sinks.kv",
                 lambda: write_metrics(cached, self.metrics_path))
            cached.unpersist()
        jobs = census.jobs_between(first, census.next_job_id())
        op["attrs"]["jobs"] = len(jobs)
        scan, ioc, kv, metrics = (
            (sp["end"] - sp["start"],
             census.attribute(tracer, sp, a, b, layer, jobs))
            for sp, a, b, layer in marks)
        rec = {"items": HISAC_DOCS, "wall": op["end"] - op["start"],
               "start": op["start"], "end": op["end"], "jobs": jobs}
        rec["layers"] = {
            "sources.scan_s": scan[0],
            "sources.input_bytes": sum(j["inputBytes"] for j in scan[1]),
            "sources.scan_tasks": sum(j["numCompleteTasks"] for j in scan[1]),
            "ioc.extract_s": ioc[0], "ioc.rows_out": n,
            "ioc.executor_cpu_s": sum(j["executorCpuTime"] for j in ioc[1]) / 1e9,
            "kv.write_s": kv[0], "kv.metrics_write_s": metrics[0],
        }
        posted = acc.value
        rec["layers"].update({
            "kv.post_s": posted[2], "kv.batches": posted[0],
            "kv.records": posted[1],
            "kv.fill": posted[1] / (posted[0] * 1000) if posted[0] else 0.0})
        rec["ok"] = self._check(posted, None)
        return rec

    def trace_notes(self, plain, traced) -> dict:
        """How much of the untraced call its traced layer calls cover."""
        call = statistics.median(r["wall"] for r in plain)
        steps = statistics.median(
            sum(r["layers"][k] for k in ("sources.scan_s", "ioc.extract_s",
                                         "kv.write_s", "kv.metrics_write_s"))
            for r in traced if "layers" in r)
        return {"untraced_call_s": call, "traced_layer_calls_s": steps,
                "residual_s": call - steps}

    def e2e(self, recs) -> tuple[dict, dict]:
        rates = [r["items"] / r["wall"] for r in recs]
        walls = [r["wall"] for r in recs]
        named = {"batch_docs_per_s": (statistics.median(rates), "docs/s")}
        return ({"op_s_geomean": statistics.geometric_mean(walls),
                 "items_per_s": statistics.median(rates)}, named)


# --- tweet_stream ------------------------------------------------------------

class TweetStream(Workload):
    name = "tweet_stream"

    def prepare(self):
        c = self.ctx
        lo, hi = TWEETS_PER_FILE
        self.cache = os.path.join(c.inputs, f"tweets-s{c.seed}-{lo}-{hi}")
        self.dirs = {}
        for k in ("drop", "ckpt", "sink", "warm_drop", "warm_ckpt", "warm_sink"):
            self.dirs[k] = os.path.join(c.run_dir, k)
        os.makedirs(self.dirs["drop"])
        os.makedirs(self.dirs["warm_drop"])
        self.seen_files: set[str] = set()
        self.expected_all: list[tuple] = []
        self.got_all: list[tuple] = []
        self.last_df = None

    def warmup(self, spark):
        from cybersecurity_ioc_etl_spark.streaming.pipeline import run_ioc_stream

        for i in range(WARMUP_OPS[self.name]):
            # file indexes the measured steps never reach
            path, _, _ = gen.cached_tweet_file(
                self.cache, self.ctx.seed, WARMUP_FILE_INDEX + i, *TWEETS_PER_FILE)
            shutil.copy(path, self.dirs["warm_drop"])
            run_ioc_stream(spark, self.dirs["warm_drop"], self.dirs["warm_ckpt"],
                           out_dir=self.dirs["warm_sink"])

    def _new_sink_rows(self) -> list[tuple]:
        import pyarrow.parquet as pq

        sink = self.dirs["sink"]
        files = {f for f in os.listdir(sink) if f.endswith(".parquet")}
        rows = []
        for f in sorted(files - self.seen_files):
            t = pq.read_table(os.path.join(sink, f), columns=["id", "type", "ioc"])
            rows += list(zip(*(t.column(c).to_pylist() for c in ("id", "type", "ioc"))))
        self.seen_files = files
        return rows

    def step(self, spark, i, tracer=None, census=None) -> list[dict]:
        from cybersecurity_ioc_etl_spark.streaming.pipeline import run_ioc_stream

        path, manifest, n = gen.cached_tweet_file(self.cache, self.ctx.seed, i,
                                                  *TWEETS_PER_FILE)
        shutil.copy(path, self.dirs["drop"])
        self.expected_all += manifest
        rec = {"items": n}
        args = (spark, self.dirs["drop"], self.dirs["ckpt"])
        if tracer is None:
            t0 = time.perf_counter()
            self.last_df = run_ioc_stream(*args, out_dir=self.dirs["sink"])
            rec["wall"] = time.perf_counter() - t0
        else:
            rec.update(self._traced(args, tracer, census))
        got = self._new_sink_rows()
        self.got_all += got
        rec["ok"] = sorted(got) == sorted(manifest)
        if not rec["ok"]:
            _fail(f"tweet_stream resume {i}: {len(got)} rows, manifest "
                  f"{len(manifest)}")
        return [rec]

    def _traced(self, args, tracer, census) -> dict:
        from cybersecurity_ioc_etl_spark.streaming.pipeline import run_ioc_stream

        spark = args[0]
        lis = TriggerListener()
        spark.streams.addListener(lis)
        try:
            first = census.next_job_id()
            with tracer.span("operation", tracer.root, workload=self.name) as op:
                self.last_df = run_ioc_stream(*args, out_dir=self.dirs["sink"])
            stop = census.next_job_id()
            lis.wait_terminated(1)
        finally:
            spark.streams.removeListener(lis)
        jobs = census.attribute(tracer, op, first, stop, "streaming.pipeline")
        prog = lis.progress
        wall = op["end"] - op["start"]
        for p in prog:
            s = progress_start(p)
            tracer.add("stream.trigger", s,
                       s + p["durationMs"].get("triggerExecution", 0) / 1e3,
                       op["id"], batch=p["batchId"], rows=p["numInputRows"],
                       durationMs=p["durationMs"])

        def dur(key):
            return sum(p["durationMs"].get(key, 0) for p in prog)

        trigger_ms = dur("triggerExecution")
        layers = {
            "stream.latest_offset_ms": dur("latestOffset"),
            "stream.get_batch_ms": dur("getBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "stream.trigger_ms": trigger_ms,
            "stream.outside_trigger_ms": wall * 1e3 - trigger_ms,
            "stream.triggers_per_resume": len(prog),
        }
        return {"wall": wall, "start": op["start"], "end": op["end"],
                "jobs": jobs, "layers": layers}

    def final_check(self) -> bool:
        """The whole sink, read back through the engine, against every
        manifest so far: no row missing and none duplicated."""
        if self.last_df is None:
            return True
        rows = [tuple(r) for r in self.last_df.select("id", "type", "ioc").collect()]
        ok = sorted(rows) == sorted(self.expected_all) == sorted(self.got_all)
        if not ok:
            _fail(f"tweet_stream sink: {len(rows)} rows, manifests "
                  f"{len(self.expected_all)}")
        return ok

    def run_layers(self) -> dict:
        def count(d):
            return sum(len(fs) for _, _, fs in os.walk(d))

        return {
            "stream.sink_files": sum(f.endswith(".parquet")
                                     for f in os.listdir(self.dirs["sink"])),
            "stream.checkpoint_files": count(self.dirs["ckpt"]),
        }

    def e2e(self, recs) -> tuple[dict, dict]:
        walls = [r["wall"] for r in recs]
        rate = sum(r["items"] for r in recs) / sum(walls)
        p, t = tail(walls)
        named = {
            "stream_resume_s_p50": (statistics.median(walls), "s"),
            "stream_resume_s_tail": (t, f"s (p{p})") if p else
            (None, f"n/a: {len(walls)} resumes, a tail needs 20 or more"),
            "stream_tweets_per_s": (rate, "tweets/s"),
        }
        return ({"op_s_geomean": statistics.geometric_mean(walls),
                 "items_per_s": rate}, named)


# --- query_mix ---------------------------------------------------------------

def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.17g}"
    if v is None:
        return "NULL"
    return str(v)


def result_hash(cols: list[str], rows: list[dict]) -> str:
    """Order-insensitive hash of a result, normalised as the repository's
    oracle-parity test compares Spark and DuckDB rows."""
    cs = sorted(cols)
    body = sorted(tuple(_norm(r[c]) for c in cs) for r in rows)
    return hashlib.sha256(repr((cs, body)).encode()).hexdigest()


class QueryMix(Workload):
    name = "query_mix"

    def prepare(self):
        c = self.ctx
        self.sf_dir = c.fixture
        self.queries = c.queries
        self.expected = self._expected()
        self.per_query: dict[str, list[dict]] = {}

    def _expected(self) -> dict:
        """Oracle hash per query, computed once per set of oracles."""
        key = hashlib.sha256(repr([(q, self.ctx.oracles[q]) for q in MIX])
                             .encode()).hexdigest()[:16]
        path = os.path.join(self.ctx.work, "expected", f"query_mix-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        import duckdb

        con = duckdb.connect()
        out = {}
        try:
            for t in FIXTURE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf_dir}/{t}.parquet'")
            for q in MIX:
                res = con.execute(self.ctx.oracles[q])
                cols = [d[0] for d in res.description]
                out[q] = result_hash(cols, [dict(zip(cols, r)) for r in res.fetchall()])
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".partial", "w") as f:
            json.dump(out, f)
        os.replace(path + ".partial", path)
        return out

    def order(self, p: int) -> list[str]:
        rng = np.random.default_rng([self.ctx.seed, 3, p])
        return [MIX[k] for k in rng.permutation(len(MIX))]

    def warmup(self, spark):
        for _ in range(WARMUP_OPS[self.name]):
            for q in MIX:
                self.queries[q](spark, self.sf_dir).collect()

    def _run(self, spark, q) -> tuple[list, list[str], float]:
        t0 = time.perf_counter()
        df = self.queries[q](spark, self.sf_dir)
        rows = df.collect()
        return rows, df.columns, time.perf_counter() - t0

    def step(self, spark, p, tracer=None, census=None) -> list[dict]:
        recs = []
        for q in self.order(p):
            rec = {"query": q, "items": 1, "pass": p}
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    rows, cols, rec["wall"] = self._run(spark, q)
                else:
                    first = census.next_job_id()
                    with tracer.span("operation", tracer.root, workload=self.name,
                                     query=q) as op:
                        rows, cols, _ = self._run(spark, q)
                    rec["jobs"] = census.attribute(tracer, op, first,
                                                 census.next_job_id(), "operators")
                    rec.update(wall=op["end"] - op["start"], start=op["start"],
                               end=op["end"])
                got = result_hash(cols, [r.asDict() for r in rows])
                rec["ok"] = got == self.expected[q]
                if not rec["ok"]:
                    _fail(f"query_mix {q}: result hash differs from the oracle")
            except Exception:  # the operation failed; keep it in the sample
                traceback.print_exc()
                rec.update(ok=False, wall=time.perf_counter() - t0)
            recs.append(rec)
            if tracer is not None and "jobs" in rec:
                self.per_query.setdefault(q, []).append(rec)
        return recs

    def e2e(self, recs) -> tuple[dict, dict]:
        walls = [r["wall"] for r in recs]
        passes: dict[int, float] = {}
        for r in recs:
            passes[r["pass"]] = passes.get(r["pass"], 0.0) + r["wall"]
        pass_s = statistics.median(passes.values())
        named = {"mix_pass_s": (pass_s, "s"),
                 "mix_query_s_p50": (statistics.median(walls), "s")}
        return ({"op_s_geomean": statistics.geometric_mean(walls),
                 "items_per_s": len(MIX) / pass_s}, named)

    def run_layers(self) -> dict:
        out = {}
        for q in MIX:
            rs = self.per_query.get(q, [])
            out[f"operators.{q}.s"] = (statistics.median(r["wall"] for r in rs)
                                       if rs else 0.0)
            out[f"operators.{q}.jobs"] = (statistics.median(len(r["jobs"]) for r in rs)
                                          if rs else 0.0)
        return out


WORKLOADS = {w.name: w for w in (HisacBatch, TweetStream, QueryMix)}
