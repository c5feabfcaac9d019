"""Order statistics for the benchmark's samples."""

from __future__ import annotations

import statistics

# percentiles a summary may report, highest first
PERCENTILES = (99, 95, 90, 75)
MIN_BEYOND = 10  # samples that must lie above a reported percentile


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    rank = max(1, -(-len(s) * p // 100))
    return s[int(rank) - 1]


def supported_percentile(xs: list[float]) -> int | None:
    """The highest of PERCENTILES with at least MIN_BEYOND samples above
    it, or None when the sample is too small for any of them."""
    for p in PERCENTILES:
        if len(xs) - (-(-len(xs) * p // 100)) >= MIN_BEYOND:
            return p
    return None


def summary(xs: list[float]) -> dict:
    """Median, the highest supported percentile and the sample count."""
    out = {"n": len(xs), "p50": median(xs)}
    p = supported_percentile(xs)
    if p is not None:
        out[f"p{p}"] = percentile(xs, p)
    return out

