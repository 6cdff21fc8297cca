"""Spans and Spark counters for the traced run.

Spans are recorded here, in the benchmark, around the calls it makes
into each layer of the program; nothing inside the program changes.
With tracing off every hook is a no-op and the untraced run measures
the end-to-end metrics.

Spark counts are read from outside the program after each call:

- jobs and tasks from the status tracker, by job-id range: the run is a
  single closed-loop client, so every job started between two reads
  belongs to the call in between, including jobs the program submits
  from its own thread pools, where a job group set on the calling
  thread would not reach;
- SQL metrics (files, scan bytes, shuffle bytes, spill, rows) from the
  executed plan of each collected DataFrame, walking adaptive plans
  through their final plan and query stages.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

#: Executed-plan SQL metrics summed per collect, by the name reported.
PLAN_METRICS = {
    "numFiles": "files_read",
    "filesSize": "scan_bytes",
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
}


class Span:
    __slots__ = ("name", "start", "end", "parent", "child_time")

    def __init__(self, name: str, parent: "Span | None"):
        self.name = name
        self.parent = parent
        self.start = time.perf_counter()
        self.end = self.start
        self.child_time = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - self.child_time


class Tracer:
    """Records spans and counters when ``enabled``; otherwise every
    method returns at once."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._sc = None
        self._next_job = 0
        #: SQL metrics of the most recent recorded plan
        self.last_plan: dict[str, int] = {}

    def attach(self, spark) -> None:
        """Start counting Spark jobs from the session's next job on."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        self._next_job = self._scan_jobs()[0]

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(name, self._stack[-1] if self._stack else None)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.parent is not None:
                s.parent.child_time += s.seconds
            self.spans.append(s)

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] += value

    # -- Spark jobs ------------------------------------------------------

    def _scan_jobs(self) -> tuple[int, int, int]:
        """(next unseen job id, jobs, tasks) for jobs from
        ``self._next_job`` on."""
        tracker = self._sc.statusTracker()
        jid, jobs, tasks = self._next_job, 0, 0
        while True:
            info = tracker.getJobInfo(jid)
            if info is None:
                return jid, jobs, tasks
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
            jid += 1

    def jobs_since_mark(self) -> tuple[int, int]:
        """Jobs and tasks run since the previous call (or attach)."""
        if not self.enabled or self._sc is None:
            return 0, 0
        self._next_job, jobs, tasks = self._scan_jobs()
        return jobs, tasks

    # -- executed plans --------------------------------------------------

    def record_plan(self, df) -> dict[str, int]:
        """Sum the wanted SQL metrics over ``df``'s executed plan (call
        after an action on ``df``) into the counters; returns them."""
        if not self.enabled:
            return {}
        out = dict.fromkeys(PLAN_METRICS.values(), 0)
        out["leaf_rows"] = 0
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.finalPhysicalPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            metrics = node.metrics()
            for key, name in PLAN_METRICS.items():
                m = metrics.get(key)
                if m.isDefined():
                    out[name] += int(m.get().value())
            children = node.children()
            n = children.size()
            if n == 0:
                m = metrics.get("numOutputRows")
                if m.isDefined():
                    out["leaf_rows"] += int(m.get().value())
            stack.extend(children.apply(i) for i in range(n))
        for name, v in out.items():
            self.counts[f"exec.{name}"] += v
        return out


def wrap(tracer: Tracer, name: str, fn, on_result=None):
    """``fn`` inside a span named ``name``; ``on_result(result, span)``
    runs inside the span."""

    def traced(*args, **kwargs):
        with tracer.span(name) as s:
            result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(result, s)
            return result

    return traced


def install_collect_hook(tracer: Tracer) -> None:
    """Time every ``DataFrame.collect`` as ``exec.collect`` and read its
    executed plan's metrics afterwards, under ``trace.plan_metrics``
    (tracing cost, kept out of the layer figures). The process runs one
    workload, so the hook is never removed."""
    from pyspark.sql.classic.dataframe import DataFrame

    original = DataFrame.collect

    def collect(df):
        with tracer.span("exec.collect"):
            rows = original(df)
        with tracer.span("trace.plan_metrics"):
            tracer.last_plan = tracer.record_plan(df)
        return rows

    DataFrame.collect = collect
