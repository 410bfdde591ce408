"""Summary statistics of the benchmark's samples."""
import math
import statistics


def p_tail(samples, beyond=10):
    """The highest integer percentile with at least `beyond` samples above
    it (nearest-rank), as (percentile, value, sample count). With too few
    samples for any percentile it is p0, the fastest sample, which the
    rule tends to as the sample count falls; (0, 0.0, 0) with none."""
    s = sorted(samples)
    n = len(s)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, s[rank - 1], n
    return 0, (s[0] if s else 0.0), n


def median(xs):
    return statistics.median(xs)
