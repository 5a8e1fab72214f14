"""In-memory spans around calls into the engine's layers.

A span records name, layer, start, end and its parent. Spans are kept
in a list and summarised when the run ends; nothing is written while
the timed section runs. The workloads are closed loops (one call chain
active at a time, even when ``foreachBatch`` runs the merge on a
callback thread), so one shared stack gives every span its parent.

Each span with a ``layer`` tags the Spark jobs started inside it with
that layer as the job group and restores the caller's group on exit,
so the event log can attribute stages to layers.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

from eventlog import GROUP_PROP


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "children_s")

    def __init__(self, name: str, layer: str | None, parent: "Span | None"):
        self.name, self.layer, self.parent = name, layer, parent
        self.start = time.perf_counter()
        self.end: float | None = None
        self.children_s = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    """Collects spans and tags the jobs of each layer span through ``sc``
    (a SparkContext)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(name, layer, parent)
            self._stack.append(s)
        prev = None
        if layer is not None:
            prev = self.sc.getLocalProperty(GROUP_PROP)
            self.sc.setLocalProperty(GROUP_PROP, layer)
        try:
            yield s
        finally:
            if layer is not None:
                self.sc.setLocalProperty(GROUP_PROP, prev)
            s.end = time.perf_counter()
            with self._lock:
                self._stack.remove(s)
                if s.parent is not None:
                    s.parent.children_s += s.duration
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, layer: str | None = None) -> None:
        """Replace the method ``attr`` of the instance ``owner`` by a
        spanned wrapper; other instances of its class are untouched."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)

    def total(self, name: str, self_time: bool = False) -> float:
        return sum(s.self_s if self_time else s.duration for s in self.spans if s.name == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)
