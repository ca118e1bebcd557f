"""Metric math and tracing shared by every workload.

Pure Python with no dependency on the program under test, so the
benchmark's own tests (test_metrics.py) can pin it without Spark.
"""

from __future__ import annotations

import contextlib
import json
import math
import threading
import time

# candidate percentiles, lowest first; a timing is reported at the
# median and at the highest of these its sample supports
PERCENTILES = (50.0, 90.0, 99.0, 99.9, 99.99)
MIN_BEYOND = 10
OVERHEAD_PROBES = 20_000   # empty spans timed to price one span


def _rank(n: int, p: float) -> int:
    # rounded first: 99.9/100*10000 is 9990.000000000002 in floating point
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> tuple[float, int]:
    """Nearest-rank p-th percentile of `values` and the sample count.

    Nearest rank (the smallest sample with at least p% of the sample at
    or below it) always returns a measured value, never an
    interpolation between two."""
    n = len(values)
    if n == 0:
        raise ValueError("percentile of an empty sample")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    return sorted(values)[_rank(n, p) - 1], n


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def highest_supported(n: int) -> float | None:
    """Highest of PERCENTILES with at least MIN_BEYOND samples beyond
    it, or None when even the lowest lacks them."""
    best = None
    for p in PERCENTILES:
        if beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def interval_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover
    (children clipped to the parent; overlapping children count once)."""
    s, e = span["start"], span["end"]
    clipped = [
        (max(c["start"], s), min(c["end"], e))
        for c in children
        if c["end"] > s and c["start"] < e
    ]
    return (e - s) - interval_union(clipped)


def account(expected: list[tuple[int, str]],
            received: list[tuple[int, str]]) -> dict:
    """Compare one consumer's received (key, line) stream with the
    expected one, keys strictly increasing.

    Each received line falls in at most one failure class, in this
    priority: `unexpected` (key never expected), `duplicate` (key seen
    before), `wrong` (bytes differ from the expected line),
    `out_of_order` (key not above the last accepted key). Expected keys
    never received are `missing` (drops land here). `failed` sums them;
    `failed_ratio` divides by the number of expected outputs."""
    want = dict(expected)
    seen: set[int] = set()
    c = {"expected": len(expected), "received": len(received),
         "missing": 0, "duplicate": 0, "wrong": 0, "out_of_order": 0,
         "unexpected": 0}
    last = None
    for key, line in received:
        if key not in want:
            c["unexpected"] += 1
            continue
        if key in seen:
            c["duplicate"] += 1
            continue
        seen.add(key)
        if line != want[key]:
            c["wrong"] += 1
        elif last is not None and key <= last:
            c["out_of_order"] += 1
        if last is None or key > last:
            last = key
    c["missing"] = len(want) - len(seen)
    c["failed"] = (c["missing"] + c["duplicate"] + c["wrong"]
                   + c["out_of_order"] + c["unexpected"])
    c["failed_ratio"] = c["failed"] / c["expected"] if c["expected"] else 0.0
    return c


class Tracer:
    """Spans (name, start, end, parent, run id), kept in memory and
    written out once at the end, with the run's per-layer figures.

    A disabled tracer hands out a no-op context, so untraced runs pay
    next to nothing per boundary."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def _span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": stack[-1]["id"] if stack else None,
               "run": self.run_id}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic()

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed by the caller (e.g. across a non-blocking call)."""
        if self.enabled:
            with self._lock:
                self.spans.append({"name": name, "start": start, "end": end,
                                   "parent": None, "run": self.run_id,
                                   "id": len(self.spans)})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            out[s["name"]] = out.get(s["name"], 0.0) + self_time(
                s, kids.get(s["id"], []))
        return out

    def overhead(self) -> dict:
        """What tracing added to this run: the spans it recorded times
        the cost of one span, timed over OVERHEAD_PROBES empty nested
        spans on a scratch tracer (the traced and untraced runs
        assemble the system differently, so the difference of their
        end-to-end figures is not the tracer's cost)."""
        probe = Tracer("overhead-probe", enabled=True)
        t0 = time.perf_counter()
        for _ in range(OVERHEAD_PROBES // 2):
            with probe.span("outer"):
                with probe.span("inner"):
                    pass
        per_span = (time.perf_counter() - t0) / OVERHEAD_PROBES
        return {"spans": len(self.spans), "per_span_us": per_span * 1e6,
                "total_s": per_span * len(self.spans)}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_time_s": self.self_times(), **extra},
                      f, indent=1)

