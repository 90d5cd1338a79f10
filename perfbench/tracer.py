"""Spans around the benchmark's calls into the engine's layers.

A span records the layer (named after the module under
``safeascent_spark/``), the operation, its kind, start and end, its parent
span and the request it belongs to.  A lazy DataFrame builder does its real
work at the action, so a builder call gets a ``plan`` span and the action a
separate ``exec`` span; an engine function that runs its own Spark jobs gets
one ``call`` span.

While a span is open, its Spark jobs run under a job group of its own, so
``SparkContext.statusTracker()`` yields the jobs, stages, tasks and failed
tasks that span launched (its self counts: a child span sets its own group).

With tracing off, ``span`` only runs the body: the untraced run measures
the end-to-end metrics and the traced run the per-layer ones.  The time a
traced run spends recording spans is summed in ``overhead_s``.  Spans are
kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    parent: int | None
    request: int | None
    layer: str
    op: str
    kind: str          # "plan", "exec" or "call"
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Collects spans for one benchmark run; thread-safe."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0             # time spent recording spans
        self.sc = None                    # set once a SparkContext exists
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def request(self, kind: str):
        """Groups the spans of one workload operation under one id."""
        if not self.enabled:
            yield None
            return
        prev = getattr(self._local, "request", None)
        rid = next(self._ids)
        self._local.request = rid
        try:
            with self.span("request", kind, "call") as s:
                yield s
        finally:
            self._local.request = prev

    @contextmanager
    def paused(self):
        """Records no spans inside (untimed warm-up work)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def context(self):
        """The calling thread's request and open span, for ``adopt``."""
        if not self.enabled:
            return None
        stack = self._stack()
        return (getattr(self._local, "request", None),
                stack[-1] if stack else None)

    @contextmanager
    def adopt(self, ctx):
        """Makes spans opened in this (worker) thread part of the request
        and children of the span that ``context()`` returned."""
        if ctx is None:
            yield
            return
        self._local.request = ctx[0]
        stack = self._stack()
        if ctx[1] is not None:
            stack.append(ctx[1])
        try:
            yield
        finally:
            if ctx[1] is not None:
                stack.pop()
            self._local.request = None

    @contextmanager
    def span(self, layer: str, op: str, kind: str = "call"):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        s = Span(id=next(self._ids),
                 parent=stack[-1].id if stack else None,
                 request=getattr(self._local, "request", None),
                 layer=layer, op=op, kind=kind, start=0.0)
        sc = self.sc
        group = f"perfbench-{s.id}"
        prev_group = sc.getLocalProperty(_GROUP_KEY) if sc else None
        if sc:
            sc.setLocalProperty(_GROUP_KEY, group)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if sc and self.sc is sc:
                self._count_jobs(s, group)
                sc.setLocalProperty(_GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(s)
                self.overhead_s += (s.start - t_in) + (time.perf_counter() - s.end)

    def _count_jobs(self, s: Span, group: str) -> None:
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            s.jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                s.stages += 1
                s.tasks += st.numCompletedTasks
                s.failed_tasks += st.numFailedTasks

    def note(self, span: Span | None, **counts) -> None:
        """Attach counts (rows, files, pairs, ...) to a span."""
        if span is not None:
            for k, v in counts.items():
                span.counts[k] = span.counts.get(k, 0) + v

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's
    intervals (children clipped to the parent)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def layer_totals(spans: list[Span]) -> dict[str, dict]:
    """Per layer and per layer.op: summed self seconds and span count of
    each kind, Spark job/stage/task counts, and every note summed."""
    selfs = self_seconds(spans)
    out: dict[str, dict] = {}
    for s in spans:
        for key in (s.layer, f"{s.layer}.{s.op}"):
            t = out.setdefault(key, {"self_s": 0.0, "plan_s": 0.0,
                                     "exec_s": 0.0, "call_s": 0.0,
                                     "plan_n": 0, "exec_n": 0, "call_n": 0,
                                     "jobs": 0, "stages": 0,
                                     "tasks": 0, "failed_tasks": 0})
            t["self_s"] += selfs[s.id]
            t[f"{s.kind}_s"] += selfs[s.id]
            t[f"{s.kind}_n"] += 1
            t["jobs"] += s.jobs
            t["stages"] += s.stages
            t["tasks"] += s.tasks
            t["failed_tasks"] += s.failed_tasks
            for k, v in s.counts.items():
                t[k] = t.get(k, 0) + v
    return out
