"""Spans, percentiles and the Spark event-log roll-up for the benchmark.

Spans live in memory and are written out once, when the run ends. In a
traced run each span also sets a Spark job group, so the event log ties
every stage back to the span (and so the warehouse layer) that caused it.
"""

from __future__ import annotations

import json
import math
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile that refuses to extrapolate: at
    least ten samples must lie beyond the requested rank."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    pos = q * (n - 1)
    beyond = n - 1 - math.floor(pos)
    if beyond < 10:
        raise ValueError(f"p{q * 100:g} of {n} samples has only {beyond} beyond it (need 10)")
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total = 0.0
    end = -math.inf
    for a, b in sorted(clipped):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. With ``spark`` given, each span sets its own job
    group for the calling thread and restores the enclosing one after."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group_id(span.id), span.name)

    @contextmanager
    def span(self, name: str, layer: str, parent: Span | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            s = Span(len(self.spans), name, layer, parent.id if parent else None, time.time())
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def record(self, name: str, layer: str, start: float, end: float,
               parent: Span | None, **attrs) -> Span:
        """Add a span measured elsewhere (a streaming query's lifetime)."""
        with self._lock:
            s = Span(len(self.spans), name, layer, parent.id if parent else None, start, end, attrs)
            self.spans.append(s)
        return s

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - union_length(kids, span.start, span.end)

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def attribute(self, root: Span) -> dict[str, float]:
        """Split ``root``'s wall time over layers: each instant goes to
        the innermost spans open at that instant, shared evenly when
        several run at once (concurrent queries, ADS clients). The parts
        add up to the root's duration; with no concurrency each span
        gets exactly its self time."""
        spans = [root] + self.descendants(root)
        parent_of = {s.id: s.parent for s in spans}
        cuts = sorted({min(max(t, root.start), root.end) for s in spans for t in (s.start, s.end)})
        out: dict[str, float] = defaultdict(float)
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            live = [s for s in spans if s.start <= mid < s.end]
            inner = {s.id for s in live} - {parent_of[s.id] for s in live}
            leaves = [s for s in live if s.id in inner] or [root]
            for s in leaves:
                out[s.layer] += (b - a) / len(leaves)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def group_id(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


@dataclass
class GroupStats:
    jobs: list = field(default_factory=list)  # (start s, end s)
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def rollup_event_log(path: str) -> dict[str, GroupStats]:
    """Roll ``SparkListenerTaskEnd`` metrics up by job group, from an
    uncompressed Spark event log. Stages carry their job group in the
    submission properties; jobs give the intervals the driver waited on."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is not None:
                    job_group[ev["Job ID"]] = g
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    out[job_group[jid]].jobs.append((job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                st = out[g]
                st.tasks += 1
                st.executor_run_ms += m["Executor Run Time"]
                st.executor_cpu_ms += m["Executor CPU Time"] / 1e6
                st.gc_ms += m["JVM GC Time"]
                st.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st.spill_bytes += m["Disk Bytes Spilled"]
    return dict(out)
