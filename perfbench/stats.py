"""Summary statistics shared by the benchmark and its tests."""

from __future__ import annotations

TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``TAIL_BEYOND``
    samples above it: ``(value, percentile, sample_count)``.

    With n sorted samples that is the (n - TAIL_BEYOND)-th smallest,
    reported as percentile 100 * (n - TAIL_BEYOND) / n. Below
    TAIL_BEYOND + 1 samples no percentile qualifies; the minimum is
    returned with percentile 0 so the metric still exists, and the
    sample count says how little it means.
    """
    if not values:
        raise ValueError("tail() needs at least one sample")
    xs = sorted(values)
    n = len(xs)
    k = n - TAIL_BEYOND
    if k < 1:
        return xs[0], 0.0, n
    return xs[k - 1], 100.0 * k / n, n
