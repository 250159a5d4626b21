"""Spans at the layer boundaries the benchmark calls into, plus the small
statistics helpers every workload shares.

Spans live in memory (name, layer, start, end, parent, run id, thread)
and are written out once at exit. A layer's self time is the time its
spans cover minus the part covered by their child spans.
"""

from __future__ import annotations

import itertools
import json
import math
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

LAYERS = ("session", "catalog", "registry", "plan", "exec", "stream", "envelope",
          "keyed_state", "sinks", "rest", "harness")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: "int | None"
    run: str
    thread: int


class Tracer:
    """Records spans when ``enabled``; a no-op context otherwise."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            stack.pop()
            self.add(Span(sid, name, layer, start, end, parent, self.run_id,
                          threading.get_ident()))

    def add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def new_id(self) -> int:
        return next(self._ids)

    def adopt_by_containment(self, parents: list[Span]) -> None:
        """Parent orphan spans to the innermost given span whose interval
        contains them (used for spans synthesised after the fact from
        Spark's progress reports: a micro-batch's callbacks may run on
        any py4j callback thread)."""
        ids = {p.id for p in parents}
        for s in self.spans:
            if s.parent is not None or s.id in ids:
                continue
            best = None
            for p in parents:
                if p.start <= s.start and s.end <= p.end:
                    if best is None or p.end - p.start < best.end - best.start:
                        best = p
            if best is not None:
                s.parent = best.id

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
            )
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def pct(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation."""
    if not values:
        return 0.0
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def beyond(values: list[float], q: float) -> int:
    """How many samples lie strictly above the ``q``-th percentile."""
    cut = pct(values, q)
    return sum(1 for x in values if x > cut)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in values) / len(values)) if values else 0.0
