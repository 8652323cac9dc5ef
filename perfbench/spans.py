"""Spans around the calls into chill_spark layers, kept in memory.

A span is (id, parent, workload, layer, name, start, end). Eager public
functions are timed by replacing the module attribute their caller
looks up (``Tracer.wrap``); the benchmark's own code opens spans around
the calls it makes (``Tracer.span``). Each span also tags the Spark
jobs it starts with a job group ``perfbench:<workload>:<layer>``, so
``layer_jobs`` can read jobs/tasks per layer from the status tracker.
Nothing under chill_spark/ is modified: wrappers are removed again by
``unwrap_all``.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    parent: int | None
    workload: str
    layer: str
    name: str
    t0: float
    t1: float

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.active = False  # wrappers record only while True
        self.workload = ""
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()  # stream batches close spans on another thread
        self._patched: list[tuple[object, str, object]] = []
        self.counts: dict[str, int] = {}
        self.own_s: dict[str, float] = {}  # workload -> seconds spent in span bookkeeping

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str = ""):
        enter = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        group = f"perfbench:{self.workload}:{layer}"
        prev = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, group)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev)
            self.spans.append(Span(sid, parent, self.workload, layer, name, t0, t1))
            own = (t0 - enter) + (time.perf_counter() - t1)
            with self._lock:
                self.own_s[self.workload] = self.own_s.get(self.workload, 0.0) + own

    def maybe(self, layer: str, name: str = ""):
        """A span while tracing is active, else nothing."""
        return self.span(layer, name) if self.active else nullcontext()

    def wrap(self, module, attr: str, layer: str, count=None) -> None:
        """Time every call of ``module.attr``; ``count(result)`` adds to
        ``counts[layer]`` while tracing is active."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.maybe(layer, attr):
                result = orig(*args, **kwargs)
            if count is not None and self.active:
                with self._lock:
                    self.counts[layer] = self.counts.get(layer, 0) + count(result)
            return result

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def self_times(self, spans: list[Span]) -> dict[int, float]:
        """Span id -> duration minus the part its child spans cover."""
        child: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        return {s.sid: s.dur - child.get(s.sid, 0.0) for s in spans}

    def job_ids(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def count_jobs(self, job_ids) -> dict[str, int]:
        """{jobs, tasks, failed_tasks} over the given Spark job ids."""
        st = self.sc.statusTracker()
        acc = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
        for jid in job_ids:
            acc["jobs"] += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    acc["tasks"] += stage.numCompletedTasks + stage.numFailedTasks
                    acc["failed_tasks"] += stage.numFailedTasks
        return acc

    def layer_jobs(self, workload: str, layer: str) -> dict[str, int]:
        return self.count_jobs(self.job_ids(f"perfbench:{workload}:{layer}"))
