"""Summary statistics shared by the workloads."""

from __future__ import annotations

import statistics


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at
    least ten samples beyond it. Below twenty samples that percentile
    would not lie above the median, so the maximum is reported instead
    (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], round(100.0 * (n - 10) / n, 1), n


def summary(values) -> dict:
    """Median and tail of a latency sample, with the percentile used and
    the sample count recorded next to the value."""
    values = list(values)
    t, p, n = tail(values)
    return {"p50": median(values), "tail": t, "tail_pct": p, "n": n}
