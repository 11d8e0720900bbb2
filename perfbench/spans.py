"""In-memory spans and Spark job labels for the benchmark's traced runs.

A :class:`Tracer` wraps calls into the engine's public functions from the
outside (``install``) and records one span per call: name, label, start,
end and parent span. Spans stay in memory until the run ends.

The current span travels in a ``contextvars`` variable. The engine fans a
round out over ``concurrent.futures.ThreadPoolExecutor`` threads, which
do not copy the caller's context, so while installed the tracer swaps in
an executor whose ``submit`` does: spans opened in a branch thread get
the span that submitted the branch as their parent.

Each span has an effective *label*: its own, or its parent's when it has
none, or its pinned ancestor's (``pin=True`` keeps every descendant's
work under one label, e.g. ``inject``). On entry the label becomes the
Spark job group of the calling thread, so after the run the driver's
status store attributes every Spark job to a label at no extra job cost.

A span's *self time* is its duration minus the part of it that its child
spans cover; concurrent children are merged as an interval union.
"""

from __future__ import annotations

import concurrent.futures
import contextvars
import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

_CURRENT: contextvars.ContextVar = contextvars.ContextVar("perfbench_span", default=None)
_ORIGINAL_EXECUTOR = concurrent.futures.ThreadPoolExecutor


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    label: str | None
    pin: bool
    start: float
    end: float | None = None


class _ContextExecutor(_ORIGINAL_EXECUTOR):
    """ThreadPoolExecutor that runs each task in a copy of the submitter's
    context, so the submitter's open span becomes the task's parent."""

    def submit(self, fn, /, *args, **kwargs):
        ctx = contextvars.copy_context()
        return super().submit(ctx.run, fn, *args, **kwargs)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """``set_group(label)`` sets the calling thread's job group and
    returns a token for ``reset_group(token)``; both default to no-ops so
    the span logic is usable without Spark."""

    def __init__(self, set_group=None, reset_group=None, clock=time.time):
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._set_group = set_group or (lambda label: None)
        self._reset_group = reset_group or (lambda token: None)
        self._clock = clock
        self._undo: list = []
        # seconds spent in the tracer's own bookkeeping (span records and
        # job-group calls), summed over all threads
        self.overhead_s = 0.0

    # ---- recording ---------------------------------------------------
    @contextmanager
    def span(self, name: str, label: str | None = None, pin: bool = False):
        t0 = time.perf_counter()
        parent = _CURRENT.get()
        if parent is not None and (parent.pin or label is None):
            label = parent.label
        s = Span(next(self._ids), parent.id if parent else None, name, label,
                 pin or bool(parent and parent.pin), self._clock())
        token = _CURRENT.set(s)
        group_token = self._set_group(label)
        with self._lock:
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = self._clock()
            self._reset_group(group_token)
            _CURRENT.reset(token)
            with self._lock:
                self.overhead_s += time.perf_counter() - t1

    def wrap(self, fn, name: str, label=None, pin: bool = False):
        """``label`` may be a callable of the call's arguments."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            lab = label(*args, **kwargs) if callable(label) else label
            with self.span(name, lab, pin):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str, label=None, pin: bool = False) -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``uninstall``.
        Patch each name where callers look it up."""
        orig = getattr(owner, attr)
        setattr(owner, attr, self.wrap(orig, name, label, pin))
        self._undo.append((owner, attr, orig))

    def install(self, patches) -> None:
        """``patches``: iterable of ``(owner, attr, name, label, pin)``."""
        concurrent.futures.ThreadPoolExecutor = _ContextExecutor
        self._undo.append((concurrent.futures, "ThreadPoolExecutor", _ORIGINAL_EXECUTOR))
        for p in patches:
            self.patch(*p)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ---- analysis ----------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_time(self, span: Span, kids: dict[int, list[Span]] | None = None) -> float:
        kids = self.children() if kids is None else kids
        inner = [(max(c.start, span.start), min(c.end, span.end))
                 for c in kids.get(span.id, []) if c.end is not None]
        inner = [(a, b) for a, b in inner if b > a]
        return (span.end - span.start) - union_length(inner)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def self_by_label(self) -> dict[str, float]:
        """Σ self time of the finished spans carrying each label."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            if s.end is not None and s.label is not None:
                out[s.label] = out.get(s.label, 0.0) + self.self_time(s, kids)
        return out


def spark_job_group(sc):
    """(set_group, reset_group) for a SparkContext: the label becomes the
    thread's ``spark.jobGroup.id`` local property, restored on exit."""
    key = "spark.jobGroup.id"

    def set_group(label):
        prev = sc.getLocalProperty(key)
        sc.setLocalProperty(key, label)
        return prev

    def reset_group(prev):
        sc.setLocalProperty(key, prev)

    return set_group, reset_group


def _opt(o):
    return o.get() if o.isDefined() else None


def spark_jobs(spark) -> list[dict]:
    """Every job the driver's status store retains, with its stages'
    executor time, GC time and shuffle bytes. A stage listed by several
    jobs (skipped re-use) is attributed to the first job only."""
    store = spark._jsparkSession.sparkContext().statusStore()
    gw = spark.sparkContext._gateway
    stages = {}
    # (statuses, details, withSummaries, unsortedQuantiles, taskStatus)
    seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    for i in range(seq.size()):
        st = seq.apply(i)
        d = stages.setdefault(st.stageId(), [0, 0, 0, 0])
        d[0] += st.executorRunTime()
        d[1] += st.jvmGcTime()
        d[2] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        d[3] += st.numTasks() if str(st.status()) != "SKIPPED" else 0
    jobs = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        j = seq.apply(i)
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        ids = j.stageIds()
        jobs.append({
            "id": j.jobId(), "group": _opt(j.jobGroup()),
            "submit_ms": sub.getTime() if sub is not None else None,
            "end_ms": done.getTime() if done is not None else None,
            "stage_ids": [ids.apply(k) for k in range(ids.size())],
        })
    jobs.sort(key=lambda j: j["id"])
    claimed = set()
    for j in jobs:
        mine = [s for s in j["stage_ids"] if s not in claimed and s in stages]
        claimed.update(mine)
        j["executor_ms"] = sum(stages[s][0] for s in mine)
        j["gc_ms"] = sum(stages[s][1] for s in mine)
        j["shuffle_bytes"] = sum(stages[s][2] for s in mine)
        j["tasks"] = sum(stages[s][3] for s in mine)
        j["stages"] = sum(1 for s in mine if stages[s][3] > 0)
    return jobs
