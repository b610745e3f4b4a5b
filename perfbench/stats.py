"""Order statistics used by the benchmark's reports."""
import math
import statistics

MIN_BEYOND = 10


def percentile(values, q):
    """The q-quantile (0 < q < 1) of `values`, nearest-rank.

    Refuses (ValueError) unless at least MIN_BEYOND samples lie beyond it:
    a p90 needs 100 samples, so a tail figure is never read off a handful
    of points."""
    if not 0 < q < 1:
        raise ValueError(f"quantile {q} outside (0, 1)")
    xs = sorted(values)
    beyond = math.floor(len(xs) * (1 - q) + 1e-9)
    if beyond < MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} of {len(xs)} samples has {beyond} beyond it; "
                         f"needs {MIN_BEYOND}")
    return xs[len(xs) - beyond - 1]


def median(values):
    return statistics.median(values)


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
