"""Tracing for the traced benchmark run, recorded from outside the engine.

* ``Tracer`` keeps spans in memory (name, start, end, parent, run id,
  attributes) and writes them out once, when the run ends.
* ``JobCensus`` attributes Spark jobs to a span by a job-id diff: it reads
  the scheduler's next job id before and after the span, then takes the
  jobs and stages in between from the Spark UI REST API.  Job groups are
  not used because the engine runs some legs on its own threads, which do
  not inherit the caller's local properties.
* ``TriggerListener`` is a ``StreamingQueryListener`` that keeps every
  progress event's ``timestamp`` and per-phase ``durationMs``.
"""

from __future__ import annotations

import calendar
import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

STAGE_SUMS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
    "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "numCompleteTasks",
)


class Tracer:
    """Spans of one run; span ``root`` is the run itself."""

    def __init__(self, run_id: str, **attrs):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root = self.add("run", time.time(), 0.0, None, **attrs)["id"]

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> dict:
        span = {"run": self.run_id, "id": len(self.spans), "parent": parent,
                "name": name, "start": start, "end": end, "attrs": attrs}
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        span = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield span
        finally:
            span["end"] = time.time()

    def write(self, path: str, summary: dict) -> None:
        self.spans[self.root]["end"] = time.time()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "summary": summary,
                       "spans": self.spans}, f)


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    dt = datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


class JobCensus:
    """Job-id diff plus REST job and stage metrics for one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def attribute(self, tracer: Tracer, span: dict, first: int, stop: int,
                  layer: str, jobs: list[dict] | None = None) -> list[dict]:
        """Jobs ``first <= jobId < stop`` (from ``jobs`` if given) as child
        spans of ``span``.  Call it after the span has closed, so the REST
        calls stay outside the span."""
        if jobs is None:
            jobs = self.jobs_between(first, stop)
        jobs = [j for j in jobs if first <= j["jobId"] < stop]
        for j in jobs:
            if j["start"] and j["end"]:
                tracer.add("spark.job", j["start"], j["end"], span["id"],
                           layer=layer, job=j["jobId"], stages=j["stages"],
                           tasks=j["numCompleteTasks"])
        span["attrs"]["jobs"] = len(jobs)
        return jobs

    def jobs_between(self, first: int, stop: int, timeout: float = 10.0
                     ) -> list[dict]:
        """Jobs ``first <= jobId < stop`` with their stage metrics summed.
        The UI status store is fed asynchronously, so wait until every
        job in the range shows as finished."""
        if stop <= first:
            return []
        deadline = time.time() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if first <= j["jobId"] < stop]
            done = [j for j in jobs if j["status"] in ("SUCCEEDED", "FAILED")]
            if len(done) == stop - first or time.time() > deadline:
                break
            time.sleep(0.02)
        wanted = {s for j in done for s in j["stageIds"]}
        stages: dict[int, dict] = {}
        for st in self._get("/stages"):
            if st["stageId"] in wanted and st["status"] == "COMPLETE":
                stages[st["stageId"]] = st
        out = []
        for j in sorted(done, key=lambda j: j["jobId"]):
            own = [stages[s] for s in j["stageIds"] if s in stages]
            rec = {k: sum(st.get(k, 0) for st in own) for k in STAGE_SUMS}
            rec.update(jobId=j["jobId"], status=j["status"],
                       start=_rest_time(j.get("submissionTime")),
                       end=_rest_time(j.get("completionTime")),
                       stages=len(own))
            # a stage shared by two jobs is counted once, with the first
            for s in j["stageIds"]:
                stages.pop(s, None)
            out.append(rec)
        return out


def job_totals(jobs: list[dict], wall: float, start: float, end: float,
               cores: int) -> dict:
    """Scheduler, executor and IO totals of one operation's ``jobs``;
    ``driver_gap_s`` is the part of the operation's wall time during
    which none of its jobs ran."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(j["start"], start), min(j["end"], end))
                       for j in jobs if j["start"] and j["end"]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    run_s = sum(j["executorRunTime"] for j in jobs) / 1e3
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["numCompleteTasks"] for j in jobs),
        "spark.driver_gap_s": max(0.0, wall - covered),
        "spark.core_util": run_s / (wall * cores) if wall > 0 else 0.0,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(j["executorCpuTime"] for j in jobs) / 1e9,
        "spark.gc_s": sum(j["jvmGcTime"] for j in jobs) / 1e3,
        "spark.shuffle_read_bytes": sum(j["shuffleReadBytes"] for j in jobs),
        "spark.shuffle_write_bytes": sum(j["shuffleWriteBytes"] for j in jobs),
        "spark.spill_bytes": sum(j["memoryBytesSpilled"] + j["diskBytesSpilled"]
                                 for j in jobs),
        "spark.output_bytes": sum(j["outputBytes"] for j in jobs),
    }


class TriggerListener(StreamingQueryListener):
    """Keeps each trigger's progress; ``terminated`` counts finished
    queries so a caller can wait for a query's last events."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "batchId": p.batchId,
            "timestamp": p.timestamp,
            "numInputRows": p.numInputRows,
            "durationMs": dict(p.durationMs),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def wait_terminated(self, count: int, timeout: float = 10.0) -> None:
        deadline = time.time() + timeout
        while self.terminated < count and time.time() < deadline:
            time.sleep(0.01)


def progress_start(p: dict) -> float:
    """Epoch seconds of a progress event's trigger start."""
    dt = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (local mode runs the executors
    in it too), from the kernel's high-water mark."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
