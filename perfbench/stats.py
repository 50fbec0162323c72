"""Pure helpers for the benchmark's figures: no Spark, no I/O."""

from __future__ import annotations

import json
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
TAIL_BEYOND = 10  # a tail percentile needs this many samples above it


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, float, int] | None:
    """The highest percentile of ``values`` with at least ``TAIL_BEYOND``
    samples beyond it, as ``(value, percentile, n)``; None when there are
    too few samples for any such percentile.

    For n samples in ascending order that is the (n-10)-th smallest:
    n=100 gives p90, n=1000 gives p99."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def ratio(num: float, den: float) -> float:
    """``num / den``, or 0 when nothing was attempted (den == 0)."""
    return num / den if den else 0.0


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def check_names(names) -> None:
    """Raise on a metric name the result contract does not allow."""
    for n in names:
        if not NAME_RE.fullmatch(n) or len(n) > 64:
            raise ValueError(f"bad metric name {n!r}")


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The result object printed as the last line of stdout.  ``metrics``
    maps name -> (value, unit)."""
    check_names(metrics)
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )
