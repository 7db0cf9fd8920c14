"""Benchmark-side tracing: spans around calls into reflex_spark's layers.

Nothing inside ``reflex_spark`` is changed. ``instrument`` swaps the public
entry points of each layer for wrappers that record a span (name, start,
end, parent, workload) and tag the Spark jobs issued inside it with a
thread-local job group, so ``SparkContext.statusTracker()`` can count the
jobs per span afterwards. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

import numpy as np

from reflex_spark.sources.event_log import EventLog
from reflex_spark.streaming.cursors import FileCursorStore
from reflex_spark.streaming.materialize import MaterializedCounts
from reflex_spark.streaming.notify import InMemNotifier

_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    workload: str
    start: float
    end: float = 0.0
    jobs: int = 0  # Spark jobs issued directly inside this span (not children)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans from every thread; ``workload`` labels new spans."""

    def __init__(self, sc):
        self.sc = sc
        self.workload = ""
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._mu = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._mu:
            sid = next(self._ids)
        sp = Span(sid, stack[-1].id if stack else None, name, self.workload, 0.0)
        self.sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"{_GROUP_PREFIX}{stack[-1].id}", stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._mu:
                self.spans.append(sp)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def count_jobs(self) -> None:
        """Attribute Spark jobs to spans through their job groups."""
        time.sleep(0.5)  # let the listener bus record the last jobs
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            sp.jobs = len(tracker.getJobIdsForGroup(f"{_GROUP_PREFIX}{sp.id}"))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


@contextmanager
def instrument(tracer: Tracer):
    """Trace the layers' public entry points for the duration of the block."""
    targets = [
        (EventLog, "append", "event_log.append"),
        (EventLog, "head", "event_log.head"),
        (EventLog, "read_after", "event_log.read_after"),
        (FileCursorStore, "set_cursor", "cursors.set_cursor"),
        (MaterializedCounts, "apply_batch", "materialize.apply_batch"),
    ]
    originals = [(cls, attr, cls.__dict__[attr]) for cls, attr, _ in targets]
    subscribe = InMemNotifier.subscribe

    def traced_subscribe(self):
        ev = subscribe(self)
        wait = ev.wait

        def traced_wait(timeout=None):
            with tracer.span("notify.wait") as sp:
                woke = wait(timeout)
                sp.attrs["woke"] = bool(woke)
                return woke

        ev.wait = traced_wait
        return ev

    for cls, attr, name in targets:
        setattr(cls, attr, tracer.wrap(cls.__dict__[attr], name))
    InMemNotifier.subscribe = traced_subscribe
    try:
        yield
    finally:
        for cls, attr, fn in originals:
            setattr(cls, attr, fn)
        InMemNotifier.subscribe = subscribe


@dataclass
class Stats:
    """Aggregates over the spans of one name in one workload."""

    calls: int
    busy_s: float
    p50_ms: float
    jobs: int  # Spark jobs issued in these spans and everything under them


class Tree:
    """The spans of one workload, linked to their children."""

    def __init__(self, spans: list[Span], workload: str):
        self.spans = [s for s in spans if s.workload == workload]
        self.children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def under(self, spans: list[Span]) -> list[Span]:
        """The direct children of ``spans``."""
        return [c for s in spans for c in self.children.get(s.id, [])]

    def jobs(self, s: Span) -> int:
        """Spark jobs issued in ``s`` and everything under it."""
        return s.jobs + sum(self.jobs(c) for c in self.children.get(s.id, []))

    def stats(self, name: str) -> Stats:
        group = self.named(name)
        durs = np.array([s.dur for s in group])
        return Stats(
            calls=len(group),
            busy_s=float(durs.sum()),
            p50_ms=float(np.median(durs) * 1e3) if len(group) else 0.0,
            jobs=sum(map(self.jobs, group)),
        )
