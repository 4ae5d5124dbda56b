"""Order statistics shared by the benchmark and the compare tool."""

from __future__ import annotations

import statistics

#: A tail percentile is reported only where at least this many samples lie
#: beyond it, so one slow call cannot set it.
TAIL_SAMPLES_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_SAMPLES_BEYOND`` samples
    beyond it: returns (value, percentile, sample count).

    With n samples that is the sample of rank n - 10 (1-based), the
    100 * (n - 10) / n percentile. Below 20 samples that percentile would
    fall under the median, so the largest sample (the 100th percentile) is
    reported instead."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - TAIL_SAMPLES_BEYOND
    if 2 * k < n:
        return xs[-1], 100.0, n
    return xs[k - 1], 100.0 * k / n, n


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile), as
    ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Distance between the quartiles as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")
