"""Statistics of the graft benchmark: median, quartiles, the tail
percentile that keeps at least ten samples beyond it, and the pair-win
rule for comparing two commits."""
import math
import statistics

TAIL_BEYOND = 10


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs):
    """First and third quartile, as `statistics.quantiles(xs, n=4)`."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def spread(xs):
    """Distance between the quartiles as a share of the median."""
    q1, q3 = quartiles(xs)
    return (q3 - q1) / median(xs)


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile, in steps of 5, that leaves at least
    `beyond` samples strictly above its nearest-rank value.

    Returns (value, percentile, samples beyond). With fewer than
    beyond + 1 samples there is no such percentile: the maximum is
    returned with percentile 100 and the real count beyond (0)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    for p in range(95, 0, -5):
        rank = math.ceil(p * n / 100)
        value = s[rank - 1]
        above = sum(1 for x in s if x > value)
        if above >= beyond:
            return value, p, above
    return s[-1], 100, 0


def pair_win(base, cand, better):
    """The pair-win rule. `base` and `cand` are one metric's values from
    runs paired by seed; `better` is "lower" or "higher". The candidate
    wins when it is better in at least nine tenths of the pairs (ties
    count for neither side) and the medians differ by more than the
    base's own quartile distance. It loses by the same rule reversed.
    Returns "win", "loss" or "flat"."""
    if len(base) != len(cand) or not base:
        raise ValueError("pair_win needs two equally long, non-empty lists")
    sign = -1 if better == "lower" else 1
    wins = sum(1 for b, c in zip(base, cand) if sign * (c - b) > 0)
    losses = sum(1 for b, c in zip(base, cand) if sign * (c - b) < 0)
    q1, q3 = quartiles(base) if len(base) >= 2 else (base[0], base[0])
    gap = abs(median(cand) - median(base)) > q3 - q1
    need = 0.9 * len(base)
    if wins >= need and gap:
        return "win"
    if losses >= need and gap:
        return "loss"
    return "flat"
