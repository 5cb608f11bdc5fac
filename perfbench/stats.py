"""Summary statistics shared by every workload.

A timing is reported as its median plus the highest percentile of
``LADDER`` that still has at least ``MIN_BEYOND`` samples strictly above
its rank; with too few samples no tail percentile is reported at all.
"""

from __future__ import annotations

import statistics
from collections.abc import Sequence

LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (exact for percentiles given to a tenth, as on the ladder)."""
    tenths = round(p * 10)
    return max(1, -(-tenths * n // 1000))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile (an observed sample, never interpolated)."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[rank(len(values), p) - 1]


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest ladder percentile with >= ``min_beyond`` samples beyond it."""
    best = None
    for p in LADDER:
        if n - rank(n, p) >= min_beyond:
            best = p
    return best


def summarize(values: Sequence[float]) -> dict:
    """Median, sample count and the supported tail percentile, if any."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_p"] = p
        out["tail"] = percentile(values, p)
    return out


def union_length(intervals: Sequence[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to [lo, hi]; ones outside it are dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def timing(values: Sequence[float], unit: str) -> dict:
    """Report entry for a timing: median, sample count, supported tail."""
    s = summarize(values)
    out = {"value": s["p50"], "unit": unit, "n": s["n"]}
    if "tail" in s:
        out[f"p{s['tail_p']:g}"] = s["tail"]
    return out
