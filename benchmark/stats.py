"""Order statistics for the benchmark's latency samples."""

from __future__ import annotations

#: A tail percentile must leave at least this many samples above it.
TAIL_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """The ``q``-quantile (0..1) by linear interpolation between order
    statistics, the rule of ``statistics.quantiles(method="inclusive")``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> dict | None:
    """The highest percentile that still has ``TAIL_BEYOND`` samples above it.

    With ``n`` samples the percentile is the largest whole ``p`` for which
    ``n * (1 - p/100) >= TAIL_BEYOND``. Returns ``{"pct", "value", "n"}``, or
    None when ``n <= TAIL_BEYOND`` and no percentile qualifies."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    pct = (100 * (n - TAIL_BEYOND)) // n
    return {"pct": pct, "value": percentile(values, pct / 100), "n": n}
