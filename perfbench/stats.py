"""Summary statistics shared by the benchmark runner and its spread check."""

import statistics


def median(values):
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values):
    """First and third quartile, as statistics.quantiles(values, n=4)."""
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / median(values)


def fail_ratio(failed, attempted):
    if attempted < 1:
        raise ValueError("no operations attempted")
    return failed / attempted
