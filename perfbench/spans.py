"""In-memory spans for the traced run, written out when the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans around calls into each layer. A layer's self time is
    its span's duration minus the time its child spans cover."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, len(self.spans), parent, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_time(self, name: str) -> float:
        """Summed self time of every span called `name` (0.0 if none)."""
        total = 0.0
        for s in self.spans:
            if s.name == name:
                kids = sum(c.duration for c in self.spans
                           if c.parent_id == s.span_id)
                total += s.duration - kids
        return total

    def duration(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
