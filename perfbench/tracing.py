"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end, the span that caused it and the trace
(one loop iteration, opened with ``trace``) it belongs to. Spans stay in
memory and are written out once, when the run ends. A span's self time
is its duration minus the part of its interval its children cover.

The untraced runs use ``NullTracer``, which records nothing, so
end-to-end numbers are measured with tracing off.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self._trace = 0

    @contextmanager
    def trace(self, name: str):
        """One loop iteration: a new trace id and its root span."""
        self._trace += 1
        with self.span(name) as rec:
            yield rec

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "trace": self._trace,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        """Record a count at a layer boundary (one sample per call)."""
        self.counts.setdefault(name, []).append(value)

    def median(self, name: str) -> float:
        """Median duration of the spans called ``name``."""
        return statistics.median(
            s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out

    def span_cost_s(self, n: int = 20_000) -> float:
        """Measured cost of recording one span, in seconds."""
        probe = Tracer()
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "counts": self.counts,
                       "self_s": self.self_times()}, f)


class NullTracer:
    """Tracing off: same interface, records nothing."""

    @contextmanager
    def span(self, name: str):
        yield None

    trace = span

    def count(self, name: str, value: float) -> None:
        pass
