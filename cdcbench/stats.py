"""Order statistics with the benchmark's sample-size rule.

A tail percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it; with fewer it is omitted, never guessed (p95 needs 200 samples,
p90 needs 100).
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile, ``q`` in [0, 1] (numpy's default)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


def min_samples_for(q: float) -> int:
    """Smallest sample count that leaves ``MIN_BEYOND`` samples beyond the
    ``q`` percentile."""
    # the slack absorbs float error: 10 / (1 - 0.95) is 200.00000000000003
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def tail_percentile(values: list[float], q: float) -> float | None:
    """The ``q`` percentile, or ``None`` when the sample is too small for
    ``MIN_BEYOND`` samples to lie beyond it."""
    if len(values) < min_samples_for(q):
        return None
    return percentile(values, q)


def tail_metrics(commit_ms: list[float], lookup_ms: list[float]
                 ) -> dict[str, tuple[float, str]]:
    """``commit_ms_p95`` and ``lookup_ms_p90``, each only where its sample
    supports it."""
    out = {}
    p95 = tail_percentile(commit_ms, 0.95)
    if p95 is not None:
        out["commit_ms_p95"] = (p95, "ms")
    p90 = tail_percentile(lookup_ms, 0.90)
    if p90 is not None:
        out["lookup_ms_p90"] = (p90, "ms")
    return out
