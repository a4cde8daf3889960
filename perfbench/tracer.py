"""In-memory spans around calls into the engine's layers.

The benchmark's own code opens a span at each layer boundary it calls
(``session``, ``queries``, ``exec``, ``operators``, ``write_path``); the
engine itself is not instrumented. Spans stay in memory and are written out
once, after the run. With tracing off every call is a no-op, so the untraced
run measures the program alone.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict
from collections.abc import Iterator
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None  # spans of one op share this id
    layer: str
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Span recorder; each thread keeps its own span stack and current op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # Time spent inside the tracer's own bookkeeping: the direct cost
        # tracing adds to every traced op (exact for the one-thread window).
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, layer: str, name: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), stack[-1].id if stack else None,
                     getattr(self._local, "op", None), layer, name, 0.0)
            self.spans.append(s)
        stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.overhead_s += time.perf_counter() - s.end

    @contextlib.contextmanager
    def op(self, op_id: int, layer: str, name: str) -> Iterator[Span | None]:
        """Root span of one op; child spans opened inside it carry ``op_id``."""
        if not self.enabled:
            yield None
            return
        self._local.op = op_id
        try:
            with self.span(layer, name) as s:
                yield s
        finally:
            self._local.op = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def self_times(self, spans: list[Span] | None = None) -> dict[str, float]:
        """Per-layer self time: span time not covered by the span's children."""
        spans = self.spans if spans is None else spans
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s.layer] += s.duration - _covered(children.get(s.id, []))
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)
