#!/usr/bin/env python3
"""Repository benchmark: three closed-loop workloads over the engine's
public entry points, each operation's output checked.

    python3 perfbench/run.py --workload hisac_batch|tweet_stream|query_mix \\
        --seed N --seconds S --trace 0|1

Run it from the repository root.  It writes only under ``perfbench/_work``:
cached inputs and oracle results (per seed), one scratch directory per run
(Spark local dirs, warehouse, temp dirs, sinks; removed at exit) and, for
traced runs, the span file.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones, measured with tracing off:

* ``setup_s``: median of three session starts (``get_spark``; each after
  stopping the previous session) plus the warm-up: the workload's own
  operations at its own input size (``workloads.WARMUP_OPS``).  Input
  generation and oracle results are outside it.
* ``op_s_geomean``: geometric mean of the operation wall times, the typical
  operation.  On query_mix, whose operations are different queries, it
  weighs every query alike; there a median would jump between neighbouring
  queries and spread twice as wide from run to run.
* ``items_per_s``: work per second; it is ``batch_docs_per_s`` on
  hisac_batch, ``stream_tweets_per_s`` on tweet_stream and
  ``len(MIX) / mix_pass_s`` on query_mix.

The workload-specific metrics (``batch_docs_per_s``,
``stream_resume_s_p50``, ``stream_resume_s_tail``, ``stream_tweets_per_s``,
``mix_pass_s``, ``mix_query_s_p50``) and ``fail_rate`` are printed by name
with their units on the lines before the JSON.

With ``--trace 1`` steps alternate between untraced and traced.  The JSON
metrics are the per-layer ones (``PER_LAYER``), each a mean per traced
operation unless it is a run total; a layer the workload bypasses reads 0.
The lines before the JSON give the tracing overhead (traced minus untraced)
of every end-to-end metric, and the spans go to ``perfbench/_work/traces``.

The host core count comes from ``os.sched_getaffinity`` and reaches the
engine as ``SPARK_GRAFT_CPUS``, so the session runs ``local[N]``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import types
import uuid

import workloads as W
from census import JobCensus, Tracer, job_totals, jvm_peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
FIXTURE = os.path.join(HERE, "fixture", "sf0.001")
SETUP_STARTS = 3
E2E_UNITS = {"setup_s": "s", "op_s_geomean": "s", "items_per_s": "items/s"}

PER_LAYER = (
    # session
    "session.start_s", "session.warmup_s", "session.persisted_rdds",
    "session.catalog_tables", "session.tmp_dirs_added",
    "session.jvm_peak_rss_mb",
    # sources.readers
    "sources.scan_s", "sources.input_bytes", "sources.scan_tasks",
    # functions.ioc, through ioc_queries.ioc_table
    "ioc.extract_s", "ioc.executor_cpu_s", "ioc.rows_out",
    # sinks.kv
    "kv.write_s", "kv.post_s", "kv.batches", "kv.records", "kv.fill",
    "kv.metrics_write_s",
    # streaming.pipeline
    "stream.latest_offset_ms", "stream.get_batch_ms",
    "stream.query_planning_ms", "stream.add_batch_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms", "stream.trigger_ms",
    "stream.outside_trigger_ms", "stream.triggers_per_resume",
    "stream.sink_files", "stream.checkpoint_files",
    # operators, one pair per mix query
    *(f"operators.{q}.{m}" for q in W.MIX for m in ("s", "jobs")),
    # spark scheduling, executor, shuffle and IO
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.core_util", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.output_bytes",
)
PER_LAYER_UNITS = {"_s": "s", ".s": "s", "_ms": "ms", "_bytes": "bytes",
                   "_mb": "MB", "core_util": "ratio", "kv.fill": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> dict:
    """Point every scratch location of the driver, the JVM and the Python
    workers into ``run_dir``, before the JVM starts."""
    d = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "warehouse")}
    for p in d.values():
        os.makedirs(p)
    java_opts = f"-Djava.io.tmpdir={d['tmp']} -XX:-UsePerfData"
    os.environ.update({
        "TMPDIR": d["tmp"],
        "SPARK_LOCAL_DIRS": d["spark-local"],
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={d['warehouse']}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = d["tmp"]
    return d


def stop_engine(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def mean_of(dicts: list[dict]) -> dict:
    """Per-key mean over the dicts."""
    out: dict[str, float] = {}
    for d in dicts:
        for k, v in d.items():
            out[k] = out.get(k, 0.0) + v / len(dicts)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "cybersecurity_ioc_etl_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: engine sources not found in {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    dirs = isolate(run_dir)
    sys.path[:0] = [ROOT, HERE]
    spark = None
    try:
        import __spark_entry__ as entry
        from cybersecurity_ioc_etl_spark.session import get_spark

        if os.path.dirname(os.path.abspath(entry.__file__)) != ROOT:
            print("perfbench: imported the engine from elsewhere", file=sys.stderr)
            return 2
        ctx = types.SimpleNamespace(
            seed=args.seed, work=WORK, run_dir=run_dir,
            inputs=os.path.join(WORK, "inputs"), fixture=FIXTURE,
            queries=entry.queries(), oracles=entry.oracle_sql())
        wl = W.WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        starts = []
        for _ in range(SETUP_STARTS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            starts.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup(spark)
        warmup_s = time.perf_counter() - t0
        setup_s = statistics.median(starts) + warmup_s

        t0 = time.perf_counter()
        spark.range(1 << 26).selectExpr("sum(id)").collect()
        canary_s = time.perf_counter() - t0

        tracer = census = None
        if args.trace:
            tracer = Tracer(run_id, workload=args.workload, seed=args.seed)
            census = JobCensus(spark)
        tmp_entries = len(os.listdir(dirs["tmp"]))
        plain, traced = [], []
        t_start = time.perf_counter()
        # closed loop: start a step only if a typical step still ends
        # within --seconds; always one step, and in a traced run at least
        # one untraced and one traced step
        i, step_s = 0, []
        while not step_s or (
                time.perf_counter() - t_start + statistics.median(step_s)
                <= args.seconds) or (args.trace and not (plain and traced)):
            use_trace = bool(args.trace and i % 2)
            t0 = time.perf_counter()
            try:
                recs = wl.step(spark, i, tracer if use_trace else None, census)
            except Exception:  # the operation failed; keep it in the sample
                traceback.print_exc()
                recs = [{"wall": time.perf_counter() - t0, "ok": False,
                         "items": 0, "pass": i}]
            (traced if use_trace else plain).extend(recs)
            step_s.append(time.perf_counter() - t0)
            i += 1
        measure_s = time.perf_counter() - t_start
        final_ok = wl.final_check()

        every = plain + traced
        failed = sum(not r["ok"] for r in every)
        if not final_ok:
            failed = max(failed, 1)
        e2e, named = wl.e2e(plain)
        e2e = {"setup_s": setup_s, **e2e}
        print(f"# workload={args.workload} seed={args.seed} cpus={cpus} "
              f"seconds={args.seconds:g} trace={args.trace} run={run_id}")
        print(f"# canary_s {canary_s:.4f} (spark.range(1<<26) sum; "
              "diagnostic only, never compared)")
        print(f"# phases_s prepare={prepare_s:.2f} starts="
              + ",".join(f"{s:.2f}" for s in starts)
              + f" warmup={warmup_s:.2f} measure={measure_s:.2f}")
        for k, (v, unit) in named.items():
            print(f"{k} {unit}" if v is None else f"{k} {v:.6g} {unit}")
        print("# op_s " + " ".join(
            (f"{r['query']}=" if "query" in r else "") + f"{r['wall']:.3f}"
            for r in plain))
        print(f"fail_rate {failed / len(every):.6g} ratio "
              f"({failed} of {len(every)} operations)")
        for k, v in e2e.items():
            print(f"{k} {v:.6g} {E2E_UNITS[k]}")
        print(f"check: {'ok' if failed == 0 else 'FAILED'}")

        if args.trace:
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics.update({"session.start_s": statistics.median(starts),
                            "session.warmup_s": warmup_s})
            metrics.update({
                "session.persisted_rdds":
                    spark.sparkContext._jsc.getPersistentRDDs().size(),
                "session.catalog_tables": len(spark.catalog.listTables()),
                "session.tmp_dirs_added": len(os.listdir(dirs["tmp"])) - tmp_entries,
                "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
            })
            ops = [r for r in traced if "jobs" in r]
            metrics.update(mean_of([job_totals(r["jobs"], r["wall"], r["start"],
                                               r["end"], cpus) for r in ops]))
            metrics.update(mean_of([r["layers"] for r in ops if "layers" in r]))
            metrics.update(wl.run_layers())
            t_e2e, t_named = wl.e2e(traced)
            overhead = {k: t_e2e[k] - e2e[k] for k in t_e2e}
            overhead.update({k: t_named[k][0] - v for k, (v, _) in named.items()
                             if v is not None and t_named[k][0] is not None})
            for k, v in overhead.items():
                print(f"overhead {k} {v:+.6g} (traced minus untraced)")
            notes = wl.trace_notes(plain, traced)
            for k, v in notes.items():
                print(f"{args.workload} {k} {v:.4f}")
            path = os.path.join(WORK, "traces", f"{run_id}.json")
            tracer.write(path, {"metrics": metrics, "overhead": overhead,
                                "end_to_end": e2e, "canary_s": canary_s, **notes})
            print(f"# spans: {os.path.relpath(path, ROOT)} ({len(tracer.spans)})")
            out = {k: {"value": float(metrics[k]), "unit": unit_of(k)}
                   for k in PER_LAYER}
        else:
            out = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
        if any(not math.isfinite(m["value"]) for m in out.values()):
            print("perfbench: a metric is not finite", file=sys.stderr)
            return 1
        print(json.dumps({"correct": failed == 0, "attempted": len(every),
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
