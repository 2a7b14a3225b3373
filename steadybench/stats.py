"""Pure helpers: medians, the percentile rule and failure accounting."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float | None:
    """The ``p``-th percentile (nearest rank), or None when fewer than
    ``MIN_BEYOND`` samples lie strictly above its rank."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Ops:
    """Counts attempted and failed ops. An op that raises or returns a
    wrong result is failed; its time is never sampled."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.errors.append(what[:300])
        return ok

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0
