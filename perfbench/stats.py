"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def percentile(sorted_values: list[float], p: int) -> tuple[float, int]:
    """Nearest-rank p-th percentile and the number of samples above its
    rank."""
    n = len(sorted_values)
    k = max(1, math.ceil(p * n / 100))
    return sorted_values[k - 1], n - k


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """The highest whole percentile that still has at least ``beyond``
    samples beyond it.  With fewer than ``beyond + 1`` samples no
    percentile qualifies; the maximum is returned with ``ok`` false."""
    s = sorted(values)
    for p in range(99, 0, -1):
        v, above = percentile(s, p)
        if above >= beyond:
            return {"value": v, "percentile": p, "beyond": above, "n": len(s), "ok": True}
    return {"value": s[-1], "percentile": 100, "beyond": 0, "n": len(s), "ok": False}


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    return statistics.fmean(values) if values else 0.0
