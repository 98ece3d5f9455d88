"""Small statistics shared by the runner and the workloads."""

from __future__ import annotations


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile of a non-empty list, q in [0, 100]."""
    v = sorted(values)
    k = (len(v) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)
