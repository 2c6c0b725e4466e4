"""Spans around the benchmark's calls into the engine's layers.

A span records name, start, end (epoch seconds), parent and run id,
and tags the Spark jobs it starts with ``setJobGroup(<span id>)`` so the
event log can be joined back to it; jobs started from threads that do
not inherit the group are joined by submission time instead. Spans stay in memory until the run writes them out.
With tracing off, ``span`` only yields: no job group, no record.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.run_id}.{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def windows(self) -> list[tuple[str, float, float]]:
        """(span id, start, end) in epoch milliseconds, for the event log."""
        return [(s.id, s.start * 1e3, s.end * 1e3) for s in self.spans]

    def records(self) -> list[dict]:
        return [asdict(s) | {"self_s": self_time(s, self.spans)} for s in self.spans]


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the part covered by direct children (children of
    one span never overlap: the benchmark runs them one after another)."""
    return span.seconds - sum(c.seconds for c in spans if c.parent == span.id)
