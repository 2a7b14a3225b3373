"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent and Spark job group. Spans stay in
memory during the run and are written out once when it ends; a layer's self
time is its duration minus the part its child spans cover. The untraced
run uses ``NullTracer``, whose ``span`` is a no-op context manager.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    group: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, group)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name (children are nested, so their
        covered time is the sum of their durations)."""
        child_time = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.dur
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            out[sp.name] = out.get(sp.name, 0.0) + sp.dur - child_time[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_s": self.self_times()}, f)


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        yield None

    def self_times(self) -> dict[str, float]:
        return {}

    def write(self, path: str) -> None:
        pass
