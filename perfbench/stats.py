"""Summary statistics and the result line.

``tail`` implements the reporting rule for latency tails: the latency at
the highest percentile that still has at least ``TAIL_BEYOND`` samples
above it, reported together with that percentile and the sample count.
"""

from __future__ import annotations

import json
import math

TAIL_BEYOND = 10


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, n): the sample of rank ``n - beyond`` (1-based,
    ascending), which has exactly ``beyond`` samples above it, and the
    percentile that rank sits at. Needs ``n > beyond`` samples."""
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    rank = n - beyond
    return sorted(xs)[rank - 1], 100.0 * rank / n, n


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The benchmark's last stdout line."""
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    for name, (value, _unit) in metrics.items():
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
