"""In-memory spans around public engine calls, and Spark executions
attached to the innermost span that was open when they were submitted.

A span records its name, start, end, parent and run id.  ``Tracer.wrap``
replaces a function or method on its owner (a module namespace or a
class) with a spanned twin and ``restore`` puts the original back; wrap
the name where the CALLER looks it up (``jobs.pipeline_job.clean_corpus``,
not ``jobs.corpus_job.clean_corpus``), since the jobs import names
directly.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0     # time spent in the tracer itself

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, time.time(), None, parent,
                 self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str | None = None,
             attrs_fn=None) -> None:
        """Span every call of ``owner.attr``; ``attrs_fn(*args, **kw)``
        may add attributes (e.g. the table a commit goes to)."""
        orig = getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            extra = attrs_fn(*args, **kwargs) if attrs_fn else {}
            with self.span(label, **extra):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str, executions=()) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id,
                       "spans": [asdict(s) for s in self.spans],
                       "executions": [
                           {"execution_id": e.execution_id,
                            "description": e.description,
                            "start": e.start_ms / 1e3, "end": e.end_ms / 1e3,
                            "parent": parent}
                           for e, parent in executions]}, fh)


def innermost(spans: list[Span], t: float) -> Span | None:
    """Deepest span open at time ``t`` (spans nest, so the latest-started
    one containing ``t`` is the innermost)."""
    best = None
    for s in spans:
        if s.start <= t <= (s.end or t) and (best is None or s.start >= best.start):
            best = s
    return best


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attach(spans: list[Span], executions) -> list[tuple[object, int | None]]:
    """Pair each execution with the id of its parent span."""
    out = []
    for e in executions:
        s = innermost(spans, e.start_ms / 1e3)
        out.append((e, s.span_id if s is not None else None))
    return out


def self_times(spans: list[Span], attached) -> dict[int, float]:
    """Span id -> duration minus the part its child spans and child
    executions cover."""
    kids: dict[int, list[tuple[float, float]]] = {s.span_id: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end or s.start))
    for e, parent in attached:
        if parent is not None:
            kids[parent].append((e.start_ms / 1e3, e.end_ms / 1e3))
    return {s.span_id: s.dur - union_len(kids[s.span_id], s.start,
                                         s.end or s.start)
            for s in spans}


def covered_exec_time(span: Span, spans: list[Span], attached) -> float:
    """Wall of ``span`` covered by executions submitted under it or under
    any of its descendants."""
    inside = {span.span_id}
    for s in spans:                      # spans are created parent-first
        if s.parent in inside:
            inside.add(s.span_id)
    iv = [(e.start_ms / 1e3, e.end_ms / 1e3) for e, p in attached
          if p in inside]
    return union_len(iv, span.start, span.end or span.start)
