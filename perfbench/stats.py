"""Arithmetic of the reported metrics (pure functions, unit-tested)."""

from __future__ import annotations

import math
import statistics


def percentile(values, p: float) -> float:
    """The ``p``-th percentile (0..100) by linear interpolation between
    the closest ranks, the same rule as ``numpy.percentile``'s default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside 0..100")
    pos = (len(xs) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it, or None when ``n`` cannot support one."""
    if n <= beyond:
        return None
    return min(99, math.floor(100 * (n - beyond) / n))


def tail(values, beyond: int = 10) -> tuple[int, float] | None:
    """``(p, value)`` of the highest supported percentile, or None."""
    p = tail_percentile(len(values), beyond)
    if p is None:
        return None
    return p, percentile(values, p)


def kind_median(samples: dict[str, list[float]]) -> float:
    """Mean over op kinds of each kind's median wall time.

    A workload cycles through different ops; taking each kind's median
    first keeps the value from jumping between kinds when the number of
    samples per kind shifts by one."""
    meds = [statistics.median(v) for v in samples.values() if v]
    if not meds:
        raise ValueError("no samples")
    return sum(meds) / len(meds)


def turns_per_s(turns: int, seconds: float) -> float:
    """Input turns read per second of op wall time."""
    if seconds <= 0:
        raise ValueError("turns_per_s needs a positive op time")
    return turns / seconds


def iqr_share(values) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles of ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
