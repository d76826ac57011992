"""Spans around the benchmark's calls into each engine layer, and the
Spark jobs each span launched.

Spans are kept in memory and written out when the run ends. A span
records its name, start, end, parent and operation id; the parent comes
from a per-thread stack, so calls made on Spark's streaming callback
thread nest under that thread's own spans. While a span is open, every
Spark job started on its thread carries the tag ``<op>:<span name>``, and
the job ledger reads job, stage and task counts, shuffle and spill bytes
and Python-stage time for a tag from Spark's status store.

All of this is done from the benchmark's side: the engine is instrumented
only by replacing a module attribute with a wrapper for the length of a
run (``Tracer.wrap``).
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = float("nan")
    result: object = field(default=None, repr=False)  # a wrapped call's return value

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``active`` switches recording on and off
    between passes, so one process can time traced and untraced passes
    with the same wrappers in place."""

    def __init__(self):
        self.sc = None  # SparkContext for job tags; None records spans only
        self.active = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Record a span; yields the Span, or None when tracing is off."""
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None:
            op = self.spans[parent].op if parent is not None else name
        with self._lock:
            s = Span(len(self.spans), name, op, parent, time.perf_counter())
            self.spans.append(s)
        stack.append(s.id)
        tag = f"{op}:{name}"
        if self.sc is not None:
            self.sc.addJobTag(tag)
        try:
            yield s
        finally:
            if self.sc is not None:
                self.sc.removeJobTag(tag)
            s.end = time.perf_counter()
            stack.pop()

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` with a wrapper that records a span
        ``name`` around each call; restore the original on exit."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if s is not None:
                    s.result = out
                return out

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def add(self, name: str, op: str, start: float, end: float) -> Span:
        """Record a root span measured elsewhere (a streaming trigger's time)."""
        with self._lock:
            s = Span(len(self.spans), name, op, None, start, end)
            self.spans.append(s)
        return s

    def dump(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "op": s.op, "parent": s.parent, "start": s.start, "end": s.end}
                for s in self.spans]


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the durations of its children. Children
    are not clipped to their parent, so children that overlap or run
    past their parent leave a negative self time instead of hiding."""
    kids = children(spans)
    return {s.id: s.dur - sum(c.dur for c in kids.get(s.id, [])) for s in spans}


def subtree(spans: list[Span], root: Span) -> list[Span]:
    kids = children(spans)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def trace_error(spans: list[Span], root: Span, wall_s: float, tol_s: float) -> str | None:
    """Why the spans of ``root``'s operation fail to account for its wall
    time, or None when they do. ``wall_s`` is measured independently of
    the spans (the latency around the call, or Spark's own clock). Every
    span must lie inside its parent, no self time may be negative, and
    the self times must add up to ``wall_s`` within ``tol_s``."""
    tree = subtree(spans, root)
    by_id = {s.id: s for s in spans}
    for s in tree:
        if s is not root:
            p = by_id[s.parent]
            if not (p.start <= s.start and s.end <= p.end):
                return f"span {s.name} runs outside its parent {p.name}"
    selfs = self_times(tree)
    neg = [s.name for s in tree if selfs[s.id] < 0]
    if neg:
        return f"children overlap inside {neg[0]}"
    total = sum(selfs.values())
    if not abs(total - wall_s) <= tol_s:  # a span left open (end is nan) fails too
        return f"self times add up to {total:.4f} s, wall time is {wall_s:.4f} s"
    return None


_PYTHON_OPERATORS = ("Python", "InPandas", "InArrow")


class JobLedger:
    """Reads what the jobs carrying a tag did, from Spark's status store."""

    def __init__(self, sc):
        self.sc = sc
        jsc = sc._jsc.sc()
        self._tracker = jsc.statusTracker()
        self._store = jsc.statusStore()
        self._jvm = sc._jvm

    def job_ids(self, tag: str) -> set[int]:
        return set(self._tracker.getJobIdsForTag(tag))

    def _stage(self, stage_id: int):
        seq = self._store.stageData(
            int(stage_id), False, self._jvm.java.util.ArrayList(), False,
            self.sc._gateway.new_array(self._jvm.double, 0),
        )
        return None if seq.isEmpty() else seq.apply(0)

    def _is_python_stage(self, stage_id: int) -> bool:
        todo = [self._store.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            c = todo.pop()
            if any(p in str(c.name()) for p in _PYTHON_OPERATORS):
                return True
            kids = c.childClusters()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        return False

    def usage(self, job_ids: set[int]) -> dict:
        """Totals over the given jobs' stages that ran (skipped stages,
        whose output was reused, are not counted)."""
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "shuffle_bytes": 0,
               "spill_bytes": 0, "python_stage_s": 0.0}
        for j in sorted(job_ids):
            sids = self._store.job(j).stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                sd = self._stage(sid)
                if sd is None or not sd.submissionTime().isDefined():
                    continue
                out["stages"] += 1
                out["tasks"] += int(sd.numTasks())
                out["shuffle_bytes"] += int(sd.shuffleWriteBytes())
                out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
                if sd.completionTime().isDefined() and self._is_python_stage(sid):
                    wall_ms = sd.completionTime().get().getTime() - sd.submissionTime().get().getTime()
                    out["python_stage_s"] += wall_ms / 1000.0
        return out
