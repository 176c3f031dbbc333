"""In-memory span recorder for traced runs.

A span is (id, name, start, end, parent, run id) with times in seconds on
the epoch clock; durations are taken from `time.perf_counter` and mapped
onto the epoch once, so spans from this process and task spans read from
Spark's event log (epoch milliseconds) share one time axis. Spans stay in
memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._epoch0 = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch0 + time.perf_counter()

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent,
                           "run": self.run_id, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        sid = self.add(name, self.now(), float("nan"), **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = self.now()

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       **(extra or {})}, f)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its child
    spans cover (children clipped to the parent; overlapping children
    counted once)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        inner = [(max(c["start"], lo), min(c["end"], hi))
                 for c in kids.get(s["id"], [])]
        out[s["id"]] = (hi - lo) - covered((a, b) for a, b in inner if b > a)
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out
