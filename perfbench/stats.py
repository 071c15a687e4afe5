"""Order statistics and span arithmetic used by the benchmark.

Pure functions, no Spark: ``perfbench/test_perfbench.py`` checks them.
"""

from __future__ import annotations

import math

#: percentile reported as the latency tail. Fixed, so that runs with a
#: different number of warm passes report the same statistic; with the
#: ~20-50 warm samples a run affords, fewer than the ten samples the
#: choosing-metrics guide asks for lie beyond it (the count is reported)
TAIL_PERCENTILE = 90.0


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default 'linear' method)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile {p} outside [0, 100]")
    s = sorted(values)
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, int]:
    """(TAIL_PERCENTILE value, number of samples above it)."""
    v = percentile(values, TAIL_PERCENTILE)
    return v, sum(1 for x in values if x > v)


def quartile_spread(values: list[float]) -> float:
    """(Q3 − Q1) / median, quartiles as ``statistics.quantiles(n=4)``
    (the 'exclusive' method) gives them."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged first, so concurrent children are not subtracted twice).

    Each span is ``{"id", "parent", "start", "end"}``; ``parent`` is None
    for a root."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
