"""Summary statistics the benchmark reports (pure Python, no Spark).

Latencies are summarised as a median plus the highest percentile that still
has at least ten samples beyond it (so a tail figure never rests on one or
two outliers), reported with that percentile and the sample count.
"""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives them
    (the 'exclusive' method); one sample gives (v, v, v)."""
    if len(values) < 2:
        v = median(values)
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> float | None:
    """Highest percentile p (0-100) with at least ``min_beyond`` of ``n``
    samples strictly above its rank, i.e. n * (1 - p/100) >= min_beyond.
    None when there are not more than ``min_beyond`` samples."""
    if n <= min_beyond:
        return None
    return 100.0 * (n - min_beyond) / n


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> dict | None:
    """{'value', 'percentile', 'samples'} for the tail percentile: the value
    is the order statistic with exactly ``min_beyond`` samples above it."""
    n = len(values)
    p = tail_percentile(n, min_beyond)
    if p is None:
        return None
    ordered = sorted(values)
    return {"value": ordered[n - min_beyond - 1], "percentile": p, "samples": n}


def failed_op_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
