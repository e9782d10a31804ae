"""Spans and Spark counters recorded around the package's public calls.

A span has a name, start, end, parent span and op id, plus the range of
Spark job ids started while it was open.  Job ids come from the
scheduler's job counter, so jobs that the program starts on other threads
(a streaming query's ``foreachBatch``) are counted too.  Task, stage and
shuffle counts are resolved from Spark's status store after the op, never
inside a timed interval.  Spans stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class SparkCounters:
    """Reads Spark's scheduler and status store for one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def jobs_detail(self, first: int, end: int) -> dict:
        """Executed stages, tasks and shuffle bytes of jobs [first, end)."""
        out = {"jobs": end - first, "stages": 0, "tasks": 0, "shuffle_bytes": 0}
        if end <= first:
            return out
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        for job_id in range(first, end):
            job = store.job(job_id)
            out["stages"] += job.numCompletedStages()
            out["tasks"] += job.numCompletedTasks()
            ids = job.stageIds()
            for i in range(ids.size()):
                attempts = store.stageData(
                    ids.apply(i), False, self._no_status, False, self._no_quantiles
                )
                for k in range(attempts.size()):
                    out["shuffle_bytes"] += attempts.apply(k).shuffleWriteBytes()
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in Catalyst's analysis, optimization and planning for
    the frame's query execution (``QueryPlanningTracker.phases``)."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        name: phases.apply(name).durationMs() / 1000.0
        for name in ("analysis", "optimization", "planning")
        if phases.contains(name)
    }


class Tracer:
    """Collects spans for one run.  ``enabled=False`` makes every span a
    no-op, so the untraced path pays nothing but a function call.  A span
    opened on another thread (the stream's ``foreachBatch``) takes the
    benchmark thread's innermost open span as its parent."""

    def __init__(self, counters: SparkCounters, enabled: bool):
        self.counters = counters
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._main_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        outer = stack or self._main_stack
        rec = {"name": name, "op": self.op_id, "parent": outer[-1] if outer else None,
               "job0": self.counters.next_job_id(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["job1"] = self.counters.next_job_id()
            stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper.  The program looks
        the attribute up at call time, so its own calls are traced without
        editing any package file."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
                if rec is not None:
                    rec["result"] = _jsonable(result)
                return result

        setattr(module, attr, traced)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that the span's direct children cover."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_cover.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str))
                f.write("\n")


def _jsonable(value):
    if isinstance(value, (int, float, str, bool)) or value is None:
        return value
    if isinstance(value, dict):
        return {str(k): _jsonable(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_jsonable(v) for v in value]
    return repr(value)
