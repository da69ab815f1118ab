"""Order statistics and span arithmetic used by the benchmark report."""

from __future__ import annotations

import math

# A percentile above the median is reported only with this many samples
# strictly beyond it; fewer would make it the value of one or two runs.
MIN_BEYOND = 10


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default method)."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def percentile(values: list[float], q: float) -> dict:
    """``{"value", "n", "beyond"}``; ``value`` is None when fewer than
    MIN_BEYOND samples lie strictly above it (the median is always
    reported)."""
    if not values:
        return {"value": None, "n": 0, "beyond": 0}
    v = quantile(values, q)
    beyond = sum(1 for x in values if x > v)
    if q > 0.5 and beyond < MIN_BEYOND:
        return {"value": None, "n": len(values), "beyond": beyond}
    return {"value": v, "n": len(values), "beyond": beyond}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict:
    """span id → duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    children: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        covered = union_length(
            [
                (max(a, c["start"]), min(b, c["end"]))
                for c in children.get(s["id"], [])
                if c["end"] > a and c["start"] < b
            ]
        )
        out[s["id"]] = (b - a) - covered
    return out
