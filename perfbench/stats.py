"""The tail-latency rule the benchmark reports."""

from __future__ import annotations

TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest
    nearest-rank percentile with at least ``TAIL_BEYOND`` samples above
    it. When that rank would not lie above the median (at most
    ``2 * TAIL_BEYOND + 1`` samples) no tail exists with ten samples
    beyond it, and the maximum is reported as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    rank = n - TAIL_BEYOND  # 1-based; n - rank samples lie beyond it
    if rank <= (n + 1) // 2:
        return xs[-1], 100.0, 0
    return xs[rank - 1], 100.0 * rank / n, n - rank
