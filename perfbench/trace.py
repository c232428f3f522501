"""In-memory span tracing and layer wrappers for the traced run.

Spans are recorded from the benchmark's own files, around calls into
the program's public functions; nothing inside the program changes.
A span has a name, start, end, parent span and op id. Self time is a
span's duration minus the part of it covered by its child spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (children may overlap each other; each is clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Keeps spans in memory. One client drives the program at a time,
    so a single stack (not per thread) gives the nesting, including
    callbacks the engine makes from its own threads while the client
    waits. ``overhead_s`` accumulates the tracer's own bookkeeping."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = 0
        self.overhead_s = 0.0
        #: per op: Spark job groups whose jobs belong to it
        self.groups: dict[int, set[str]] = {}

    def begin(self, name: str) -> Span:
        t0 = time.perf_counter()
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self.op, parent, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        return s

    def end(self, s: Span) -> None:
        s.end = time.perf_counter()
        top = self._stack.pop()
        if top is not s:
            raise RuntimeError(f"span {s.name} closed out of order")
        self.overhead_s += time.perf_counter() - s.end

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, name: str, fn, on_call=None, on_result=None):
        """``fn`` inside a span. ``on_call(args, kwargs)`` runs before
        the span opens (e.g. a cache probe) and ``on_result(value)``
        after it closes; both count as tracing overhead."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if on_call is not None:
                t0 = time.perf_counter()
                on_call(args, kwargs)
                self.overhead_s += time.perf_counter() - t0
            s = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(s)
            if on_result is not None:
                t0 = time.perf_counter()
                on_result(out)
                self.overhead_s += time.perf_counter() - t0
            return out

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def patch_everywhere(orig, replacement) -> int:
    """Rebind every module attribute that holds ``orig``. Operators
    import functions by name (``from ..sources.catalog import load``),
    so patching the defining module alone would miss those bindings.
    Returns the number of bindings replaced."""
    n = 0
    for mod in list(sys.modules.values()):
        d = getattr(mod, "__dict__", None)
        if not d:
            continue
        for k, v in list(d.items()):
            if v is orig:
                setattr(mod, k, replacement)
                n += 1
    return n
