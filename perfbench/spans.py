"""In-memory spans for traced runs.

A span is one call the benchmark made into a layer (or one Spark job,
taken from the status store) with its start, end and parent. Spans of
one iteration share an iteration id. The spans stay in memory until the
run ends and are then written out as JSON lines.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    iteration: int
    name: str
    layer: str
    start: float  # epoch seconds
    end: float


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Trace:
    def __init__(self):
        self.spans: list[Span] = []

    def add(self, parent, iteration, name, layer, start, end) -> int:
        span = Span(len(self.spans), parent, iteration, name, layer, start, end)
        self.spans.append(span)
        return span.span_id

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_time(self, span: Span) -> float:
        """Duration of ``span`` minus the part its children cover."""
        kids = [(c.start, c.end) for c in self.children(span.span_id)]
        return (span.end - span.start) - covered(kids, span.start, span.end)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                record = asdict(span)
                record["self_s"] = round(self.self_time(span), 6)
                f.write(json.dumps(record) + "\n")
