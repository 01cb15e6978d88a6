"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile that still has at least ``beyond`` samples
    above it: the sample at ascending rank ``n - beyond`` (1-based).

    Returns ``(value, percentile)`` where percentile is the share of
    samples at or below the value, in percent.  Raises when there are
    too few samples for any percentile to qualify."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot leave {beyond} beyond any percentile")
    k = n - beyond  # 1-based rank of the reported sample
    return sorted(samples)[k - 1], 100.0 * k / n


def median(values: list[float]) -> float:
    return float(statistics.median(values))
