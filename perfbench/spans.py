"""In-memory spans recorded around the benchmark's calls into each layer."""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    """Spans (name, start, end, parent) kept in memory; the run writes
    them into its record at the end. Each span also labels the Spark
    jobs started inside it with its name, so the event-log fold
    attributes their task metrics to the same layer."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: List[Dict] = []
        self._stack: List[str] = []

    @contextmanager
    def span(self, name: str):
        parent: Optional[str] = self._stack[-1] if self._stack else None
        self.sc.setJobDescription(name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(parent)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent})

    def record(self, name: str, start: float, end: float,
               parent: Optional[str] = None) -> None:
        """Add a span timed elsewhere (e.g. in a worker thread)."""
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent})

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)
