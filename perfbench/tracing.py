"""In-memory spans around calls into the engine's layers.

A span records a layer name, its start and end (``time.perf_counter``
seconds), the span that contains it and the unit of work it belongs to
(``setup``, ``warmup`` or a timed unit's index). Spans stay in memory and
are written out once, when the run ends. A layer's self time is its span's
duration minus the part covered by its child spans.

``NullTracer`` has the same interface and records nothing; untraced runs
use it, so the timed code path is identical apart from the recording.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from collections.abc import Iterator
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    unit: str


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.unit = "setup"

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.unit)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, dict[str, float]]:
        """unit -> layer -> summed self time (s)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            out[s.unit][s.name] += (s.end - s.start) - child[s.id]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class NullTracer:
    enabled = False
    unit = "setup"

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield
