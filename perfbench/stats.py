"""The one percentile rule every workload reports with.

A timing is reported as its median plus the highest percentile that
still has at least ``MIN_BEYOND`` samples beyond it, with the sample
count.  Tail percentiles use the nearest-rank definition on the sorted
samples, so a reported tail is always a value that was measured.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q <= 1) of ``samples``."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(q * len(ordered)))
    return ordered[rank - 1]


def supported_tail(n: int) -> float:
    """Highest quantile with ``MIN_BEYOND`` samples above its nearest
    rank; 0 when that quantile would not even reach the median."""
    if n <= 0:
        raise ValueError("no samples")
    q = (n - MIN_BEYOND) / n
    return q if q >= 0.5 else 0.0


def summarize(samples: list[float]) -> dict:
    """``{"n", "p50", "tail_q", "tail"}`` of ``samples``; ``tail`` is
    ``None`` when no quantile has ``MIN_BEYOND`` samples beyond it."""
    q = supported_tail(len(samples))
    return {
        "n": len(samples),
        "p50": statistics.median(samples),
        "tail_q": q,
        "tail": percentile(samples, q) if q > 0 else None,
    }


def describe(name: str, s: dict) -> str:
    """``name p50 ... p<q> ... (n=...)`` for the record line."""
    tail = f"p{s['tail_q'] * 100:.1f} {s['tail']:.3f}s" if s["tail"] is not None else "no tail"
    return f"{name} p50 {s['p50']:.3f}s, {tail} (n={s['n']})"
