"""Spans around the calls into each engine layer, recorded from outside.

The traced run wraps public methods on the live instances
(``Tracer.wrap``): an instance attribute shadows the class method, so
callers that resolve the method through the instance -- including the
refresh hook ``DynamicTableManager.attach`` installs and
``refresh_dag``'s own calls to ``incremental_refresh`` -- go through the
wrapper.  Spans are kept in memory with parent ids and written out when
the run ends.

A span opened on a thread with no open span of its own (the pipeline's
dimension merges run on a small thread pool the main thread waits on)
takes as parent the innermost span open on the thread that created the
tracer, so concurrent children overlap inside their parent.  Self time
is a span's duration minus the union of the intervals its children
cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float | None = None


class Tracer:
    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}  # thread id -> open spans
        self._main = threading.get_ident()
        self._restore: list[tuple[object, str]] = []
        #: seconds spent in span bookkeeping, the tracer's own cost
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        t = self.clock()
        with self._lock:
            stack = self._stacks.setdefault(threading.get_ident(), [])
            owner = stack or self._stacks.get(self._main, [])
            parent = owner[-1].id if owner else None
            s = Span(next(self._ids), parent, name, self.clock())
            self.spans.append(s)
            stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            with self._lock:
                stack.pop()
                self.overhead_s += (s.start - t) + (self.clock() - s.end)

    def wrap(self, obj, method: str, name: str) -> None:
        """Route ``obj.method`` through a span named ``name`` until
        :meth:`unwrap_all`."""
        fn = getattr(obj, method)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, traced)
        self._restore.append((obj, method))

    def unwrap_all(self) -> None:
        while self._restore:
            obj, method = self._restore.pop()
            delattr(obj, method)

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, [])]
        out[s.id] = (s.end - s.start) - _covered([(a, b) for a, b in kids if b > a])
    return out
