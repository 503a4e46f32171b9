"""In-memory spans for the traced run.

A span has a name, start and end (epoch seconds), a parent and a
request id (query id plus pass).  The benchmark opens spans around its
own calls into each layer; Spark jobs, stages and streaming batches
are added afterwards as child spans from Spark's status records.  A
span's layer is the part of its name before the first dot.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, Iterator, List, Optional

__all__ = ["Span", "Tracer", "self_times"]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    rid: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: List[tuple], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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


def self_times(spans: List[Span]) -> Dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its children cover (overlapping children count once)."""
    kids: Dict[int, List[tuple]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - _covered(kids.get(s.id, []), s.start, s.end)
            for s in spans}


class Tracer:
    """Collects spans in memory; ``enabled=False`` makes every call a
    no-op so the untraced run pays nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[Span] = []
        self.counts: Dict[str, float] = {}

    def add(self, name: str, start: float, end: float,
            parent: Optional[int], rid: str) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, rid))
        return sid

    @contextmanager
    def span(self, name: str, rid: str,
             parent: Optional[int] = None) -> Iterator[Optional[int]]:
        """Time the body as one span; yields the span id (or None when
        disabled) so callers can hang children off it."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, parent, rid)
        try:
            yield sid
        finally:
            self.spans[sid].end = time.time()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.duration for s in self.spans if s.name == name)

    def layer_self_times(self, exclude_rid: str = "setup") -> Dict[str, float]:
        """Summed self time per layer over the spans of requests (set-up
        spans, tagged ``exclude_rid``, are left out)."""
        st = self_times(self.spans)
        out: Dict[str, float] = {}
        for s in self.spans:
            if s.rid != exclude_rid:
                out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "counts": self.counts}, fh)
