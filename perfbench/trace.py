"""Tracing for the benchmark: spans recorded from the benchmark's own code
around each call into a module, plus readers of Spark's own counters (the
status store, Catalyst's phase tracker, the executed plan's SQL metrics).

Spans stay in memory and are written out when the run ends. Nothing here
runs unless the benchmark was started with ``--trace 1``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from perfbench.stats import self_times, union_length


class Tracer:
    """Nested spans: (id, name, start, end, parent, op). A span opened while
    another is open is its child; the outermost span of an op is the op's
    root, and every span under it carries the root's op id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans) + len(self._stack)
        parent = self._stack[-1] if self._stack else None
        op = parent["op"] if parent else sid
        rec = {"id": sid, "name": name, "parent": parent and parent["id"],
               "op": op, "start": time.perf_counter(), "end": None}
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def cost_per_span(self, n: int = 2000) -> float:
        """Seconds one span adds to the code it wraps, timed on empty
        spans in a scratch tracer."""
        t = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with t.span("x"):
                pass
        return (time.perf_counter() - t0) / n

    def self_time_error(self) -> float:
        """Largest |sum of span self times - root wall| over all ops, as a
        share of the root's wall time."""
        worst = 0.0
        by_op: dict = {}
        for s in self.spans:
            by_op.setdefault(s["op"], []).append(s)
        for op, spans in by_op.items():
            root = next(s for s in spans if s["id"] == op)
            wall = root["end"] - root["start"]
            total = sum(self_times(spans).values())
            if wall > 0:
                worst = max(worst, abs(total - wall) / wall)
        return worst


def _opt(o):
    """A Scala Option's value, or None."""
    return o.get() if o.isDefined() else None


class SparkProbe:
    """Reads what Spark's own bookkeeping says an op cost. Jobs are
    attributed to an op by job-id range: the benchmark is a single closed-
    loop client, so every job started between an op's start and end is
    that op's, including jobs a streaming query runs on its own thread
    (which a thread-local job group would miss)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def mark(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def jobs_since(self, mark: int) -> dict:
        """Counters of the jobs with ids in [mark, now)."""
        self._jsc.listenerBus().waitUntilEmpty()
        end = self.mark()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": end - mark, "stages": 0, "tasks": 0, "run_ms": 0,
               "cpu_ns": 0, "gc_ms": 0, "shuffle_read": 0,
               "shuffle_write": 0, "spill": 0, "busy_s": 0.0}
        intervals = []
        for jid in range(mark, end):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = store.lastStageAttempt(sid)
                sub = _opt(st.submissionTime())
                if sub is None:  # skipped: its output was reused
                    continue
                done = _opt(st.completionTime())
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ns"] += st.executorCpuTime()
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read"] += st.shuffleReadBytes()
                out["shuffle_write"] += st.shuffleWriteBytes()
                out["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if done is not None:
                    intervals.append((sub.getTime() / 1e3, done.getTime() / 1e3))
        out["busy_s"] = union_length(intervals)
        return out

    def calibrate(self, spark) -> list:
        """Runs a job of known shape and returns the names of the counters
        that read wrong on it (those are refused, not reported)."""
        parts, k, n = 8, 4, 400_000
        mark = self.mark()
        t0 = time.perf_counter()
        # a sum over random doubles: the values cannot be pruned or
        # compressed away, so the shuffle carries at least 8 bytes a row
        got = (spark.range(0, n, 1, parts).selectExpr("id", "rand(7) AS x")
               .repartition(k).selectExpr("count(id)", "sum(x)")
               .collect()[0][0])
        wall = time.perf_counter() - t0
        c = self.jobs_since(mark)
        cores = self.sc.defaultParallelism
        bad = []
        if got != n or c["jobs"] < 1:
            bad.append("spark.jobs")
        if c["stages"] < 2:
            bad.append("spark.stages")
        if c["tasks"] < parts + 1:
            bad.append("spark.tasks")
        # every byte written to the shuffle is read back exactly once
        if not (c["shuffle_write"] > 8 * n and c["shuffle_read"] == c["shuffle_write"]):
            bad += ["spark.shuffle_read_mb", "spark.shuffle_write_mb"]
        if not 0 < c["run_ms"] / 1e3 <= wall * cores * 1.05:
            bad.append("spark.executor_run_s")
        if not 0 < c["cpu_ns"] / 1e6 <= c["run_ms"] * 1.05 + parts + k:
            bad.append("spark.executor_cpu_s")
        if not 0 < c["busy_s"] <= wall + 0.01:
            bad += ["spark.busy_s", "spark.driver_gap_s",
                    "spark.floor_ms_per_job"]
        if c["gc_ms"] < 0 or c["spill"] < 0:
            bad += ["spark.gc_s", "spark.spill_mb"]
        return bad


_PHASES = ("analysis", "optimization", "planning")


def catalyst_ms(df) -> dict:
    """Catalyst phase times (ms) recorded by a DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in _PHASES:
        s = _opt(phases.get(p))
        out[p] = s.durationMs() if s is not None else 0
    return out


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _metric(node, name: str):
    m = _opt(node.metrics().get(name))
    return m.value() if m is not None else None


def python_nodes(df) -> dict:
    """Walk the executed plan of ``df`` (after it ran) and sum the SQL
    metrics of its Python/Arrow exec nodes: rows and bytes sent to the
    Python workers and bytes returned."""
    out = {"nodes": 0, "rows_to": 0, "bytes_to": 0, "bytes_from": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kids = _children(node)
        stack.extend(kids)
        sent = _metric(node, "pythonDataSent")
        if sent is None:
            continue
        out["nodes"] += 1
        out["bytes_to"] += sent
        out["bytes_from"] += _metric(node, "pythonDataReceived") or 0
        for k in kids:
            out["rows_to"] += _rows_out(k)
    return out


def _rows_out(node) -> int:
    """Rows a plan node produces: its own row metric, or that of the first
    node below it that counts rows (projections and codegen wrappers pass
    rows through uncounted)."""
    while True:
        for name in ("numOutputRows", "shuffleRecordsWritten"):
            v = _metric(node, name)
            if v is not None:
                return v
        kids = _children(node)
        if len(kids) != 1:
            return 0
        node = kids[0]
