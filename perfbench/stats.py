"""Percentile helpers shared by the benchmark's metrics."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest sample with at least `beyond` samples above it.

    With N sorted samples that is the (N - beyond)-th smallest, i.e. the
    highest percentile that still has `beyond` observations past it
    (p72 of 36 samples, p95.6 of 225, p96.9 of 322, p99 of 1000). With
    `beyond` or fewer samples it is the smallest.
    """
    if not values:
        return 0.0
    s = sorted(values)
    return s[len(s) - 1 - min(beyond, len(s) - 1)]


def lower_median_index(n):
    """Index of the representative (lower-median) sample of n sorted samples."""
    return (n - 1) // 2
