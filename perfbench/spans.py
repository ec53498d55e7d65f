"""In-memory span recorder used only by the benchmark.

Spans wrap the benchmark's own calls into each engine layer (outside-in:
the engine itself is not instrumented).  A span records its name, start,
end, parent span and the request it belongs to; spans stay in memory and
are written out when the run ends.  With tracing off, :meth:`Tracer.span`
is a no-op context manager, so the untraced run measures the program
without the recorder and the difference between the two runs is the
tracing overhead.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._request = 0

    @contextmanager
    def request(self, name: str):
        """A root span; every span opened inside it shares its request id."""
        if not self.enabled:
            yield
            return
        self._request += 1
        with self.span(name):
            yield

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "request": self._request,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, lo: float = float("-inf"),
                  hi: float = float("inf")) -> list[float]:
        """Durations of the spans called ``name`` that started in [lo, hi)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and lo <= s["start"] < hi]

    def self_times(self, lo: float, hi: float) -> dict[str, float]:
        """Per span name, the summed self time (duration minus the part of
        it covered by child spans) of spans that started in [lo, hi)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = (
                    child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if lo <= s["start"] < hi:
                own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median(values: list[float], default: float = 0.0) -> float:
    return statistics.median(values) if values else default


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]
