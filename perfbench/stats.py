"""Order statistics the benchmark reports, kept apart so they can be tested."""
import math
import statistics

MIN_BEYOND = 10


def percentile(samples, q):
    """Nearest-rank q-quantile (0 < q < 1) and the number of samples above
    its rank. Raises ValueError when fewer than MIN_BEYOND samples lie
    beyond it: a tail figure needs that many to mean anything."""
    if not 0 < q < 1:
        raise ValueError(f"quantile {q} outside (0, 1)")
    xs = sorted(samples)
    n = len(xs)
    rank = max(1, math.ceil(q * n))
    beyond = n - rank
    if beyond < MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it; "
                         f"{n} samples leave {beyond}")
    return xs[rank - 1], beyond


def median(samples):
    return statistics.median(samples)


def quartile_spread(values):
    """(Q3 - Q1) / median, with the quartiles `statistics.quantiles(n=4)`
    gives: the run-to-run spread a metric's bound is judged against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
