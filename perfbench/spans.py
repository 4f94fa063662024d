"""Layer spans for the traced run.

A span wraps one call into a layer's public function. While it is open the
thread's Spark job group is ``<layer>#<pass>``, so the event log attributes
every job the call submits to that layer and pass. Spans are kept in memory
and summarised when the run ends.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    pass_id: int
    parent: int | None
    start: float
    end: float


def group_id(name: str, pass_id: int) -> str:
    return f"{name}#{pass_id}"


def parse_group(group: str | None) -> tuple[str, int] | None:
    if not group or "#" not in group:
        return None
    name, _, p = group.rpartition("#")
    return (name, int(p)) if p.isdigit() else None


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op, so
    traced and untraced passes run the same code."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self.pass_id = -1
        self._root: int | None = None
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def pass_span(self, pass_id: int):
        """Root span of one pass; layer spans opened in any thread hang off it."""
        self.pass_id = pass_id
        with self.span("pass") as sid:
            self._root = sid
            try:
                yield
            finally:
                self._root = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1][0] if stack else self._root
        sid = next(self._ids)
        stack.append((sid, name))
        self.sc.setJobGroup(group_id(name, self.pass_id), name, False)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(group_id(stack[-1][1], self.pass_id), stack[-1][1], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(Span(sid, name, self.pass_id, parent, start, end))


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[tuple[str, int], float]:
    """(span name, pass) → summed self time: each span's duration minus the
    part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[tuple[str, int], float] = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.sid, []) if b > s.start and a < s.end]
        st = (s.end - s.start) - _union_length(kids)
        out[(s.name, s.pass_id)] = out.get((s.name, s.pass_id), 0.0) + st
    return out


def coverage(spans: list[Span]) -> dict[int, float]:
    """pass → share of the pass's wall time covered by named layer spans."""
    roots = {s.pass_id: s for s in spans if s.name == "pass"}
    out = {}
    for p, root in roots.items():
        named = [(s.start, s.end) for s in spans if s.pass_id == p and s.name != "pass"]
        wall = root.end - root.start
        out[p] = _union_length(named) / wall if wall > 0 else 0.0
    return out
