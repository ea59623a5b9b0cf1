"""Summary statistics of latency samples."""

from __future__ import annotations

TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n) of the highest percentile that still has
    at least ``TAIL_BEYOND`` samples above it.  The value is the
    ``n - TAIL_BEYOND``-th smallest sample; its percentile is the share
    of samples at or below it."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(
            f"{n} samples: a tail needs more than {TAIL_BEYOND}"
        )
    k = n - TAIL_BEYOND
    return 100.0 * k / n, sorted(samples)[k - 1], n
