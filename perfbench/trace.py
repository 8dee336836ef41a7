"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent span and the run id. Spans are
kept in memory while the run measures and written out as JSON lines when
it ends, so writing them costs nothing inside a timed interval.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start_s: float
    end_s: float = 0.0

    @property
    def duration_s(self) -> float:
        return self.end_s - self.start_s


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id,
                 time.perf_counter() - self._t0)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end_s = time.perf_counter() - self._t0
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
