"""Summaries the benchmark reports: medians and the tail rule."""

from __future__ import annotations

import statistics

# A tail percentile is only reported where at least this many samples
# lie beyond it.
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, int, int]:
    """``(value, percentile, n)``: the highest whole percentile with at
    least ``TAIL_BEYOND`` samples strictly beyond it (nearest rank).

    That is the ``TAIL_BEYOND + 1``-th largest sample, at percentile
    ``floor(100 * (n - TAIL_BEYOND) / n)``. With ``n <= TAIL_BEYOND``
    no percentile qualifies; the maximum is returned as percentile 100
    so the caller can say the tail is unresolved at that n.
    """
    n = len(xs)
    s = sorted(xs)
    if n <= TAIL_BEYOND:
        return float(s[-1]), 100, n
    return float(s[n - TAIL_BEYOND - 1]), 100 * (n - TAIL_BEYOND) // n, n

