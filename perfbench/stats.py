"""Summary statistics shared by the benchmark and its self-tests."""

from __future__ import annotations

import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = 10):
    """The highest percentile that still has at least ``beyond`` samples
    above it: ``(value, percentile, n)``, or ``None`` when fewer than
    ``beyond + 1`` samples exist. With n samples in ascending order the
    value is the (n - beyond)-th, i.e. the percentile 100 * (n - beyond) / n.
    """
    ordered = sorted(values)
    n = len(ordered)
    if n <= beyond:
        return None
    return float(ordered[n - 1 - beyond]), 100.0 * (n - beyond) / n, n
