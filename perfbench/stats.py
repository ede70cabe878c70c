"""Order statistics for the benchmark's reported timings."""

from __future__ import annotations

import math

# a tail percentile is reported only when at least this many samples lie
# beyond it, so one outlier cannot be the whole tail
MIN_BEYOND = 10


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default 'linear' method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def highest_percentile(n: int) -> float | None:
    """The highest percentile (0-100) that has at least ``MIN_BEYOND``
    of ``n`` samples above it, or None when even the median does not."""
    if n < 2 * MIN_BEYOND:
        return None
    return 100.0 * (1.0 - MIN_BEYOND / n)


def min_samples_for(percentile: float) -> int:
    """Samples needed before ``percentile`` may be reported."""
    return math.ceil(MIN_BEYOND / (1.0 - percentile / 100.0) - 1e-9)


def tail(values, percentile: float) -> float:
    """``percentile`` of ``values``; refuses a tail with fewer than
    ``MIN_BEYOND`` samples beyond it."""
    if len(values) < min_samples_for(percentile):
        raise ValueError(
            f"p{percentile:g} needs {min_samples_for(percentile)} samples,"
            f" got {len(values)}")
    return quantile(values, percentile / 100.0)
