"""In-memory spans for the traced run.

A span wraps one call into one layer's public function.  It records name,
layer, start, end, parent and run id, plus the Spark status-store counters
of the jobs and stages that ran inside it.  The store is read before the
call starts and after it returns, never during it.  Spans stay in memory
and are written out when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from spark_stats import Snapshot


@dataclass
class Span:
    id: int
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one run.  With ``spark=None`` spans carry no counters."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, skew: bool = False):
        snap = Snapshot(self.spark) if self.spark is not None else None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, self.run_id, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if snap is not None:
                s.counters = snap.diff(skew=skew)

    def by_name(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def to_json(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [{**asdict(s), "self_s": selfs[s.id]} for s in self.spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the durations of its direct children."""
    out = {s.id: s.duration for s in spans}
    for s in spans:
        if s.parent in out:
            out[s.parent] -= s.duration
    return out


def check_tree(spans: list[Span], wall_s: float, eps: float = 1e-6) -> list[str]:
    """Problems with a span tree: a child outside its parent, a negative
    self time, or self times summing to more than ``wall_s``."""
    by_id = {s.id: s for s in spans}
    bad = []
    for s in spans:
        if s.end < s.start:
            bad.append(f"{s.name}: ends before it starts")
        if s.parent is None:
            continue
        p = by_id.get(s.parent)
        if p is None:
            bad.append(f"{s.name}: unknown parent {s.parent}")
            continue
        if s.start < p.start - eps or s.end > p.end + eps:
            bad.append(f"{s.name}: outside its parent {p.name}")
    selfs = self_times(spans)
    bad += [f"{by_id[i].name}: negative self time {v}" for i, v in selfs.items() if v < -eps]
    if sum(selfs.values()) > wall_s + eps:
        bad.append(f"self times sum to {sum(selfs.values())} > wall {wall_s}")
    return bad
