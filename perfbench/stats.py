"""Small order statistics shared by the workloads."""

from __future__ import annotations

import math


def median(xs) -> float | None:
    """Median; None for no samples.  inf (a failed operation) sorts last."""
    xs = sorted(xs)
    if not xs:
        return None
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail(xs, beyond: int = 10) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile with at least
    `beyond` samples above it; (None, None) with too few samples."""
    xs = sorted(xs)
    n = len(xs)
    if n <= beyond:
        return None, None
    k = n - beyond  # the k-th smallest has `beyond` samples after it
    return xs[k - 1], round(100.0 * k / n, 1)


def slope(points) -> float:
    """Least-squares slope of y over x; 0.0 when x does not vary."""
    pts = [(x, y) for x, y in points if math.isfinite(y)]
    if len(pts) < 2:
        return 0.0
    mx = sum(x for x, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    sxx = sum((x - mx) ** 2 for x, _ in pts)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in pts) / sxx
