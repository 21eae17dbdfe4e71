"""The benchmark's own arithmetic: the reported tail percentile and
failure fractions (checked by ``selfcheck.py``)."""

from __future__ import annotations

import math
import threading

#: samples that must lie beyond a reported tail percentile
TAIL_MIN_BEYOND = 10


def nearest_rank(sorted_xs: list[float], p: float) -> tuple[float, int]:
    """(value, 1-based rank) of the ``p``-th percentile by nearest rank."""
    n = len(sorted_xs)
    rank = max(1, math.ceil(p / 100.0 * n))
    return sorted_xs[rank - 1], rank


def tail(xs: list[float]) -> tuple[float, str, int]:
    """(value, label, n): the highest percentile, in steps of 0.1 and at
    most p99.9, with at least ``TAIL_MIN_BEYOND`` samples strictly beyond
    its nearest rank. Up to ``2 * TAIL_MIN_BEYOND`` samples that percentile
    would lie under the median, so the maximum is reported, labelled
    "max"."""
    s = sorted(xs)
    n = len(s)
    if n <= 2 * TAIL_MIN_BEYOND:
        return s[-1], "max", n
    p = min(99.9, math.floor(1000.0 * (n - TAIL_MIN_BEYOND) / n) / 10.0)
    value, rank = nearest_rank(s, p)
    while n - rank < TAIL_MIN_BEYOND:   # float rounding at the boundary
        p = round(p - 0.1, 1)
        value, rank = nearest_rank(s, p)
    return value, f"p{p:g}", n


class Outcomes:
    """Attempted / failed operation counts. Every operation started is
    attempted; one that raised, was refused or returned a wrong answer is
    failed. Safe to record from several threads."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def record(self, ok: bool, note: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if note and len(self.errors) < 20:
                    self.errors.append(note)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
