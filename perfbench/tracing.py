"""Spans recorded by the benchmark around its calls into the program,
and the Spark status-store counters attached to them.

A span is (name, start, end, parent, trace id). Spans are kept in
memory and written once, at exit. Spark jobs are attached to a span
through the job group the benchmark sets while the span is open; where
the program runs the jobs on its own threads (the throughput runner),
stages are attached through their FAIR scheduling pool instead, and
streaming micro-batch jobs through the batch's time window.

The attribution and self-time functions work on plain dicts, the shape
Spark's REST API gives, so they are testable without Spark.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    trace_id: str
    parent: str | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    stages: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder. With `sc` set, a span opened with
    `job_group=True` tags the Spark jobs submitted from this thread while
    it is open with the span's id. A disabled tracer records nothing and
    yields None for every span."""

    def __init__(self, sc=None, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = sc
        self._groups: list[str] = []

    def _new(self, name: str, parent: Span | None, start: float,
             attrs: dict) -> Span:
        sid = f"s{len(self.spans)}"
        span = Span(sid, name, parent.trace_id if parent else sid,
                    parent.id if parent else None, start, None, attrs)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, parent: Span | None = None,
             job_group: bool = False, **attrs):
        """A span from entry to exit; a root span starts a new trace."""
        if not self.enabled:
            yield None
            return
        span = self._new(name, parent, time.time(), attrs)
        if job_group and self._sc is not None:
            self._groups.append(span.id)
            self._sc.setJobGroup(span.id, name, False)
        try:
            yield span
        finally:
            span.end = time.time()
            if job_group and self._sc is not None:
                self._groups.pop()
                if self._groups:
                    self._sc.setJobGroup(self._groups[-1], name, False)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start: float, end: float,
            parent: Span | None = None, **attrs) -> Span:
        """Record a span whose interval was measured elsewhere (a runner's
        per-query wall, a streaming progress report)."""
        span = self._new(name, parent, start, attrs)
        span.end = end
        return span

    def write(self, path: str, extra: dict) -> None:
        selfs = self_times(self.spans)
        out = {**extra, "spans": [
            {**asdict(s), "duration": s.duration, "self": selfs[s.id]}
            for s in self.spans]}
        with open(path, "w") as f:
            json.dump(out, f, indent=1, default=str)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """A span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered = [(max(c.start, s.start), min(c.end, end))
                   for c in kids.get(s.id, ()) if c.end is not None]
        covered = [(lo, hi) for lo, hi in covered if hi > lo]
        out[s.id] = max(0.0, (end - s.start) - _union_length(covered))
    return out


# -- attribution -----------------------------------------------------------

def attach_jobs_by_group(spans: list[Span], jobs: list[dict]) -> None:
    """Attach each job (and its stages) to the span whose id is the job's
    group."""
    by_id = {s.id: s for s in spans}
    for j in jobs:
        span = by_id.get(j.get("jobGroup"))
        if span is not None:
            span.jobs.append(j["jobId"])
            span.stages.extend(j.get("stageIds", ()))


def attach_stages_by_pool(spans_by_pool: dict[str, Span],
                          stages: list[dict], lo: float, hi: float) -> None:
    """Attach the stages submitted between `lo` and `hi` (epoch seconds)
    to spans by FAIR scheduling pool."""
    for st in stages:
        span = spans_by_pool.get(st.get("schedulingPool"))
        sub = st.get("submissionTime")
        if span is not None and sub is not None and \
                lo * 1000 <= sub <= hi * 1000:
            span.stages.append(st["stageId"])


def attach_jobs_by_window(spans: list[Span], jobs: list[dict],
                          group: str) -> None:
    """Attach jobs of one job group to the span whose interval holds the
    job's submission time (streaming micro-batches run on the query's own
    thread under the group `runId`)."""
    ordered = sorted(spans, key=lambda s: s.start)
    for j in jobs:
        if j.get("jobGroup") != group or j.get("submissionTime") is None:
            continue
        t = j["submissionTime"] / 1000.0
        for span in ordered:
            if span.start <= t <= span.end:
                span.jobs.append(j["jobId"])
                span.stages.extend(j.get("stageIds", ()))
                break


# -- Spark status stores ----------------------------------------------------

class StatusStore:
    """Reads Spark's own status stores (the data behind the REST API)
    through py4j, serialized to JSON on the JVM side in one call per
    list."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_mod)
        self._core = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._jsc = sc._jsc

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._core.jobsList(None))

    def stages(self) -> list[dict]:
        return self._json(self._core.stageList(
            None, False, False, self._no_quantiles, None))

    def tasks(self, stage: dict) -> list[dict]:
        return self._json(self._core.taskList(
            stage["stageId"], stage["attemptId"], 1_000_000))

    def sql_executions(self) -> list[dict]:
        return self._json(self._sql.executionsList())

    def cached_blocks(self) -> int:
        """Cached RDD blocks held right now."""
        return sum(int(r.numCachedPartitions())
                   for r in self._jsc.sc().getRDDStorageInfo())


def exec_counters(stages: list[dict],
                  tasks_by_stage: dict[int, list[dict]]) -> dict:
    """Totals over the stages that ran (skipped stages ran no tasks)."""
    c = dict(jobs=0, stages=0, tasks=0, task_run_s=0.0, task_cpu_s=0.0,
             gc_s=0.0, empty_tasks=0, sched_wait_s=0.0,
             shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
             scan_rows=0, scan_bytes=0, scan_max_task_rows=0)
    for st in stages:
        if st.get("status") in ("SKIPPED", "PENDING"):
            continue
        c["stages"] += 1
        c["task_run_s"] += st["executorRunTime"] / 1000.0
        c["task_cpu_s"] += st["executorCpuTime"] / 1e9
        c["gc_s"] += st["jvmGcTime"] / 1000.0
        c["shuffle_read_bytes"] += st["shuffleReadBytes"]
        c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
        c["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        c["scan_rows"] += st["inputRecords"]
        c["scan_bytes"] += st["inputBytes"]
        if st.get("submissionTime") and st.get("firstTaskLaunchedTime"):
            c["sched_wait_s"] += max(
                0, st["firstTaskLaunchedTime"] - st["submissionTime"]) / 1000.0
        tasks = tasks_by_stage.get(st["stageId"], [])
        c["tasks"] += len(tasks)
        rows = []
        for t in tasks:
            m = t.get("taskMetrics") or {}
            read = (m.get("inputMetrics", {}).get("recordsRead", 0)
                    + m.get("shuffleReadMetrics", {}).get("recordsRead", 0))
            if read == 0:
                c["empty_tasks"] += 1
            rows.append(m.get("inputMetrics", {}).get("recordsRead", 0))
        if st["inputRecords"] > 0 and rows:
            c["scan_max_task_rows"] += max(rows)
    return c


PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_recv",
}

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4}
_VALUE = re.compile(r"^\s*(-?[\d.]+)\s*([A-Za-z]*)")


def parse_metric_value(text: str | None) -> float:
    """Total of a formatted SQL metric: '1.6 s', '635 ms', '569.0 KiB', or
    'total (min, med, max ...)\\n3.1 s (1.0 s, ...)'."""
    if not text:
        return 0.0
    m = _VALUE.match(text.strip().splitlines()[-1].replace(",", ""))
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


def python_counters(executions: list[dict], job_ids: set[int]) -> dict:
    """Python-node SQL metrics summed over the SQL executions that ran any
    of `job_ids` (each accumulator counted once)."""
    out = {k: 0.0 for k in PY_METRICS.values()}
    for ex in executions:
        if not job_ids & {int(j) for j in (ex.get("jobs") or {})}:
            continue
        values = ex.get("metricValues") or {}
        seen = set()
        for m in ex.get("metrics") or ():
            key = PY_METRICS.get(m["name"])
            acc = m["accumulatorId"]
            if key is None or acc in seen:
                continue
            seen.add(acc)
            out[key] += parse_metric_value(values.get(str(acc)))
    return out
