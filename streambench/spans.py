"""Spans (name, start, end, parent, run id, attributes), kept in memory
and written out when the run ends, and the self times derived from them."""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager


class Spans:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.items: list[dict] = []
        # the engine adds spans from Spark's foreachBatch callback thread
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: str | None = None,
            **attrs) -> None:
        with self._lock:
            self.items.append(dict(name=name, start=start, end=end, parent=parent,
                                   run_id=self.run_id, **attrs))

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time(), parent, **attrs)

    def timed(self, name: str, fn, parent: str | None = None):
        """`fn` wrapped so that every call records a span."""

        def wrapper(*args, **kwargs):
            with self.span(name, parent):
                return fn(*args, **kwargs)

        return wrapper

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.items if s["name"] == name)


def self_times(spans: list[dict]) -> dict:
    """Per span name: count, total time and self time, the duration minus
    the part covered by child spans (matched by parent name and
    containment)."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        dur = s["end"] - s["start"]
        covered = sum(
            c["end"] - c["start"] for c in children.get(s["name"], [])
            if c["start"] >= s["start"] and c["end"] <= s["end"]
        )
        d["count"] += 1
        d["total_s"] += dur
        d["self_s"] += dur - covered
    return out
