"""Summary statistics for benchmark samples (stdlib only)."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median over runs, as ``statistics.quantiles(values,
    n=4)`` gives the quartiles: the spread a metric's bound is checked
    against."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
