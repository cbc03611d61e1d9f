"""Summary statistics for per-run metrics."""

from __future__ import annotations

import math
import statistics

import numpy as np


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def reportable(n: int, q: float, beyond: int = 10) -> bool:
    """A percentile is reported only when at least ``beyond`` of ``n``
    samples lie beyond it (p90 needs 100 samples, p50 needs 20)."""
    return n * (1.0 - q / 100.0) >= beyond - 1e-9


def median(values) -> float:
    """Median of any iterable; 0.0 when it is empty."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median: the order statistics weighted
    by a Beta((n+1)/2, (n+1)/2) law. Where the middle of a sample has a
    gap, as in a mix of light and heavy queries, the sample median jumps
    from one side to the other between runs; this estimate moves smoothly.
    0.0 when empty."""
    x = sorted(values)
    n = len(x)
    if n < 2:
        return x[0] if x else 0.0
    a, grid = (n + 1) / 2.0, 100_000  # Beta CDF by midpoint sums on the grid
    t = (np.arange(grid) + 0.5) / grid
    cdf = np.concatenate([[0.0], np.cumsum(np.exp((a - 1) * (np.log(t) + np.log1p(-t))))])
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, grid + 1), cdf / cdf[-1])
    return float(np.diff(edges) @ np.asarray(x, dtype=float))
