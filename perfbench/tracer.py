"""Spans around the benchmark's calls into the engine's layers, plus the
Spark engine counters each call caused.

Every op runs under a Spark job group named after it, traced or not, so
every Spark job carries its op name.  With tracing off a span costs one
``nullcontext``.  With tracing on, each span:

- gets its own job group (``<op name>#<op id>.<span id>``), so the jobs it
  starts can be told apart from those of its parent and children;
- on exit drains the listener bus and reads, for its own jobs, the stage
  data in Spark's status store (tasks, executor run/CPU/GC time, shuffle
  bytes) and the SQL metrics of the SQL executions that ran them (bytes of
  the files scanned, and ``PythonSQLMetrics``: time to run Python workers,
  data sent to and returned from them);
- records the time spent doing so as its ``overhead``, which is excluded
  from self times and summed as the tracing overhead.

Spans stay in memory and are written out once, by :meth:`Tracer.write`.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "scan_bytes",
    "python_s",
    "python_bytes",
    "plan_s",
)

# SQL metric name -> counter.  The Python ones are PythonSQLMetrics (Spark
# 4.1).  Scan bytes come from the file scans' "size of files read", because
# Parquet's vectored reads bypass the stage input metrics and Hadoop's
# file-system statistics, which then count little more than the footers.
_SQL_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "size of files read": "scan_bytes",
}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^([0-9][0-9.,]*) ?([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric (``SQLAppStatusStore.executionMetrics``),
    in bytes or seconds.  Spark keeps only this rendering once an execution
    ends, e.g. ``"2.6 MiB"`` or ``"total (min, med, max ...)\\n5.9 s (...)"``,
    so sizes carry about two significant digits."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        raise ValueError(f"unparsable SQL metric {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    return number


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    overhead: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start - self.overhead


class Tracer:
    """Op and span bookkeeping for one benchmark run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.spark = None
        self._stack: list[Span] = []
        self._span_ids = itertools.count(1)
        self._op_ids = itertools.count(1)
        self._counted_stages: set[int] = set()

    @property
    def overhead_s(self) -> float:
        return sum(s.overhead for s in self.spans)

    @contextmanager
    def op(self, name: str):
        """One op: the root span, and the job group every job of it carries."""
        op_id = next(self._op_ids)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{name}#{op_id}", name, False)
        try:
            with self.span(name, "benchmark", op_id):
                yield
        finally:
            sc.setJobGroup("", "", False)

    def span(self, name: str, layer: str, op_id: int | None = None):
        """A call into ``layer``; nests under the innermost open span, whose
        op it belongs to unless ``op_id`` starts a new one."""
        if not self.enabled:
            return nullcontext()
        return self._span(name, layer, op_id or self._stack[-1].op)

    @contextmanager
    def _span(self, name: str, layer: str, op_id: int):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        span = Span(next(self._span_ids), parent.id if parent else None, op_id, name, layer,
                    start=time.perf_counter())
        group = f"{name}#{op_id}.{span.id}"
        sc.setJobGroup(group, name, False)
        sql_before = self._sql_store().executionsCount()
        span.overhead = time.perf_counter() - span.start
        self._stack.append(span)
        try:
            yield span
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            counters = self._counters(group, sql_before)
            counters["plan_s"] += span.counters.get("plan_s", 0.0)
            span.counters = counters
            if parent is not None:
                sc.setJobGroup(f"{parent.name}#{op_id}.{parent.id}", parent.name, False)
            span.end = time.perf_counter()
            span.overhead += span.end - t1
            self.spans.append(span)

    def record_plan(self, df) -> None:
        """Add the Catalyst phase times (analysis, optimization, planning)
        of a DataFrame that has run to the innermost span."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        ms = 0
        while it.hasNext():
            ms += it.next()._2().durationMs()
        span = self._stack[-1]
        span.counters["plan_s"] = span.counters.get("plan_s", 0.0) + ms / 1000.0
        span.overhead += time.perf_counter() - t0

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _counters(self, group: str, sql_before: int) -> dict[str, float]:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0.0)
        tracker = sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        if not job_ids:
            return out
        out["jobs"] = float(len(job_ids))
        store = jsc.statusStore()
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                # a stage reused by a later job is listed again there
                if stage_id in self._counted_stages:
                    continue
                stage = store.lastStageAttempt(stage_id)
                if stage.status().toString() == "SKIPPED":
                    continue
                self._counted_stages.add(stage_id)
                out["stages"] += 1
                out["tasks"] += stage.numTasks()
                out["failed_tasks"] += stage.numFailedTasks()
                out["executor_run_s"] += stage.executorRunTime() / 1e3
                out["executor_cpu_s"] += stage.executorCpuTime() / 1e9
                out["gc_s"] += stage.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += stage.shuffleReadBytes()
                out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
        sql = self._sql_store()
        n_new = sql.executionsCount() - sql_before
        if n_new > 0:
            it = sql.executionsList(sql_before, n_new).iterator()
            while it.hasNext():
                self._add_sql_metrics(sql, it.next(), job_ids, out)
        return out

    @staticmethod
    def _add_sql_metrics(sql, execution, job_ids: set[int], out: dict) -> None:
        it = execution.jobs().keysIterator()
        ran_here = False
        while it.hasNext():
            ran_here |= it.next() in job_ids
        if not ran_here:
            return
        wanted = {}
        it = execution.metrics().iterator()
        while it.hasNext():
            m = it.next()
            if m.name() in _SQL_METRICS:
                wanted[m.accumulatorId()] = _SQL_METRICS[m.name()]
        if not wanted:
            return
        it = sql.executionMetrics(execution.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in wanted:
                out[wanted[kv._1()]] += parse_sql_metric(kv._2())

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: the span's interval minus the part of it that
    its children cover, minus its own tracer overhead."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, last_end = 0.0, s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, last_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                last_end = hi
        out[s.id] = s.end - s.start - covered - s.overhead
    return out
