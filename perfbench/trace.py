"""Spans recorded around the benchmark's calls into the package.

A span holds its name, start, end, parent span and run id. Spans are kept
in memory and written out as JSON lines when the run ends. Self time is a
span's duration minus the part of it its children cover. Nothing here
reaches inside the package: every span wraps a call the benchmark makes.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0


class Tracer:
    """Span recorder. A disabled tracer records nothing and costs one
    attribute test per span, so the same code serves untraced runs."""

    def __init__(self, run: str, enabled: bool):
        self.run = run
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 self.run, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: Path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals,
    clipped to the span (children may overlap one another)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def layer_self_times(spans: list[Span], root: str) -> list[dict[str, float]]:
    """For every span named `root`: {layer: self time summed over the
    root's descendants}, where a span's layer is its name up to the ':'
    ('sources.vcf:read_vcf' -> 'sources.vcf'). The root's own self time is
    left out: it is time no layer claimed."""
    st = self_times(spans)
    by_id = {s.id: s for s in spans}
    out = []
    for r in (s for s in spans if s.name == root):
        acc: dict[str, float] = defaultdict(float)
        for s in spans:
            p = s.parent
            while p is not None and p != r.id:
                p = by_id[p].parent
            if p == r.id:
                acc[s.name.split(":")[0]] += st[s.id]
        out.append(dict(acc))
    return out
