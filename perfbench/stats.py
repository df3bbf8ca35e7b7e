"""Summary statistics the benchmark reports: medians, tail percentiles that
are only given when enough samples lie beyond them, spreads and ratios that
carry their base."""
import math
import statistics

# A tail percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank p-th percentile; refused (ValueError) unless at least
    MIN_BEYOND samples lie beyond it."""
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    n = len(xs)
    rank = math.ceil(p / 100 * n)
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{p} of {n} samples has {n - rank} beyond it; "
                         f"need {MIN_BEYOND}")
    return sorted(xs)[rank - 1]


def spread(xs):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles with n=4)."""
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def ratio(part, base):
    """A ratio together with the base it was taken over."""
    if base <= 0:
        raise ValueError(f"ratio over a base of {base}")
    return {"value": part / base, "part": part, "base": base}
