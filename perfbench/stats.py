"""Summary statistics used by the benchmark report."""

from __future__ import annotations

import statistics

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition)."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile with at least MIN_BEYOND
    samples beyond it, or None when there are too few samples for any."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p, percentile(values, p)
    return None


def summarize(values: list[float]) -> dict:
    """Median, rule-chosen tail percentile and the sample count."""
    out = {"median": median(values), "n": len(values)}
    t = tail(values)
    if t is not None:
        out["tail_p"], out["tail"] = t
    return out
