"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def percentile(samples, q: float) -> float | None:
    """The ``q``-th percentile (0 < q < 100) of ``samples``, or None when
    fewer than ten samples lie beyond it.

    A tail percentile read from a handful of samples is one sample's
    noise, so p90 needs at least 100 samples and p99 at least 1000.
    The value is the nearest-rank percentile: the smallest sample with
    at least q% of the samples at or below it.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0 or n * (100 - q) / 100 < 10:
        return None
    rank = max(1, math.ceil(q / 100 * n))
    return xs[rank - 1]


def median(samples) -> float:
    return statistics.median(samples)


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``); 0 for fewer than two
    values or a zero median."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def geomean(values) -> float:
    """Geometric mean of positive values: each op weighs the same however
    long it takes."""
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
