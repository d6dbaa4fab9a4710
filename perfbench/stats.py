"""Order statistics used by the benchmark's end-to-end metrics."""

from __future__ import annotations

import statistics

# the tail is the highest rank that still has this many samples above it
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    With ``n`` samples sorted ascending, the sample at 1-based rank ``r``
    has ``n - r`` samples after it, so the highest admissible rank is
    ``n - TAIL_BEYOND``.  Returns the value with its rank, the sample
    count and the percentile ``100 * rank / n`` the value stands for.
    Raises ``ValueError`` when fewer than ``TAIL_BEYOND + 1`` samples
    exist, because no rank qualifies then.
    """
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"a tail needs more than {TAIL_BEYOND} samples, got {n}")
    rank = n - TAIL_BEYOND
    return {
        "value": sorted(xs)[rank - 1],
        "rank": rank,
        "n": n,
        "percentile": 100.0 * rank / n,
    }
