"""Summary statistics of the benchmark (no Spark imports)."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = 10) -> tuple[float, int, int]:
    """The highest whole percentile that has at least ``beyond`` samples
    above it, by nearest rank. Returns ``(value, percentile, n)``.

    With ``n`` samples the p-th percentile is the sample of rank
    ``ceil(p * n / 100)``; ``n - rank`` samples lie beyond it, so the rule
    picks ``p = floor(100 * (n - beyond) / n)``. With ``n <= beyond`` no
    percentile qualifies and ``ValueError`` is raised.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples: no percentile has {beyond} beyond it")
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return float(sorted(values)[rank - 1]), p, n


def fail_ratio(outcomes) -> tuple[int, int, float]:
    """``(attempted, failed, failed / attempted)`` over per-op outcomes
    (True = the op completed and its output checked out)."""
    outcomes = list(outcomes)
    failed = sum(1 for ok in outcomes if not ok)
    return len(outcomes), failed, (failed / len(outcomes) if outcomes else 0.0)
