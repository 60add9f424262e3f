"""In-memory spans for the traced run, written out when it ends.

A span is a name, a start, an end (epoch seconds) and the id of the span
that caused it. Self time is a span's duration minus the part of its
interval that its children cover.
"""

from __future__ import annotations

import contextlib
import json
import time


class Spans:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent}
        )
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a block as a child of the innermost open span; yields its id."""
        sid = self.add(name, time.time(), 0.0, self._open[-1] if self._open else None)
        self._open.append(sid)
        try:
            yield sid
        finally:
            self._open.pop()
            self.spans[sid]["end"] = time.time()

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(with_self_time(self.spans), f, indent=1)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def with_self_time(spans: list[dict]) -> list[dict]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        {
            **s,
            "self_s": (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"]),
        }
        for s in spans
    ]
