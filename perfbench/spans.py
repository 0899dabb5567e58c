"""In-memory spans for the traced run.

A span is (id, parent id, name, start s, end s, attrs). Spans are kept in
a list and written out once, when the run ends. Self time is a span's
duration minus the part of it that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        """Record a finished span; returns its id (-1 when disabled)."""
        if not self.enabled:
            return -1
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, "attrs": attrs})
        return sid

    def begin(self, name: str, start: float, **attrs) -> int:
        """Open a span that started at ``start``; later spans nest in it."""
        sid = self.add(name, start, 0.0, **attrs)
        if self.enabled:
            self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        if self.enabled:
            self._stack.remove(sid)
            self.spans[sid]["end"] = time.time()

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body as a child of the innermost open span."""
        if not self.enabled:
            yield -1
            return
        sid = self.begin(name, time.time(), **attrs)
        try:
            yield sid
        finally:
            self.end(sid)

    def self_times(self) -> dict:
        """{name: [count, total_s, self_s]} summed over spans of a name."""
        kids: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict = {}
        for s in self.spans:
            dur = max(0.0, s["end"] - s["start"])
            row = out.setdefault(s["name"], [0, 0.0, 0.0])
            row[0] += 1
            row[1] += dur
            row[2] += dur - covered(kids.get(s["id"], []), s["start"], s["end"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "self_times": self.self_times()}, f)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
