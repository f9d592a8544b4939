"""Summary statistics for the benchmark.

Percentiles use the nearest-rank rule. A percentile is reported only
when at least ten samples lie beyond it, so the tail figure of a run is
the highest percentile on the ladder that has that support; the sample
count is always reported next to it.
"""

from __future__ import annotations

import math

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    s = sorted(values)
    rank = math.ceil(p / 100.0 * len(s))
    return s[max(rank, 1) - 1]


def median(values: list[float]) -> float:
    """The middle sample, or the mean of the two middle samples."""
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def supported(n: int, p: float) -> bool:
    """Whether n samples leave at least MIN_BEYOND beyond percentile p."""
    return n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9


def tail(values: list[float], ladder: tuple[float, ...] = TAIL_LADDER) -> dict:
    """The highest supported percentile of ``values``, with the count.
    ``{"p": None}`` when even the median lacks ten samples beyond it."""
    n = len(values)
    for p in ladder:
        if supported(n, p):
            return {"p": p, "value": percentile(values, p), "n": n}
    return {"p": None, "value": None, "n": n}


def summarize(values: list[float]) -> dict:
    """Median, supported tail percentile and sample count."""
    if not values:
        return {"n": 0, "p50": None, "tail": {"p": None, "value": None, "n": 0}}
    return {"n": len(values), "p50": median(values), "tail": tail(values)}


class OpCounter:
    """Attempted and failed operations. An operation fails when it raised
    or when its answer failed a check; either way it counts once."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    MAX_ERRORS = 20  # messages kept for the report

    def record(self, problems: list[str] | None = None, *, error: str | None = None) -> bool:
        """Count one operation; ``problems`` are failed answer checks.
        Returns whether it succeeded."""
        self.attempted += 1
        bad = list(problems or [])
        if error is not None:
            bad.append(error)
        if bad:
            self.failed += 1
            if len(self.errors) < self.MAX_ERRORS:
                self.errors.append("; ".join(bad))
            return False
        return True

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
