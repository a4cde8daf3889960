"""Metric math for the benchmark: percentiles, the tail rule, rates.

Pure functions over lists of floats so they can be tested without Spark.
"""

from __future__ import annotations

import math

# A tail percentile is only reported when at least this many samples lie
# strictly above it; fewer and one slow op decides the value.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 1]) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie strictly above the q-th percentile's position."""
    if n <= 0:
        return 0
    return n - 1 - math.floor(q * (n - 1))


def min_samples_for(q: float, beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count that leaves ``beyond`` samples above percentile ``q``."""
    n = beyond + 1
    while samples_beyond(n, q) < beyond:
        n += 1
    return n


def tail_percentile(values: list[float], q: float, beyond: int = MIN_BEYOND) -> float:
    """Percentile ``q`` of ``values``, refused unless ``beyond`` samples lie above it."""
    have = samples_beyond(len(values), q)
    if have < beyond:
        raise ValueError(
            f"p{round(q * 100)} of {len(values)} samples has {have} beyond it; need {beyond}"
        )
    return percentile(values, q)


def error_rate(failed: int, attempted: int) -> float:
    """Failed (or wrong-result) ops as a share of ops attempted."""
    if attempted <= 0:
        raise ValueError("error rate of no attempts")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def ops_per_s(completed: int, window_s: float) -> float:
    """Ops completed per second of the measured window's wall time."""
    if window_s <= 0:
        raise ValueError("window must have positive length")
    return completed / window_s
