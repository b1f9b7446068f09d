"""Summary statistics the benchmark reports and compares with."""
import statistics

# A percentile is reported only with at least this many samples beyond it.
MIN_TAIL = 10


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    if not xs:
        raise ValueError("no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def min_samples(p):
    """Fewest samples that leave MIN_TAIL of them above percentile p."""
    return -(-MIN_TAIL * 100 // (100 - p))


def supported(n, p):
    return n >= min_samples(p)


def median(xs):
    return statistics.median(xs)


def spread(xs):
    """Distance between the first and third quartile over the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs_won(base, change, better):
    """Share of (base, change) pairs the change wins; ties count for neither."""
    if not base or len(base) != len(change):
        raise ValueError("pairs need two equal, non-empty lists")
    wins = sum(1 for b, c in zip(base, change)
               if (c < b if better == "lower" else c > b))
    return wins / len(base)
