"""Summary statistics shared by the benchmark's metrics."""
import math
import statistics

TAIL_BEYOND = 10  # a reported tail percentile keeps this many samples beyond it


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, target=0.99):
    """Weighted nearest-rank tail percentile.

    `samples` is a list of (value, count) pairs. Returns
    (value, percentile, n): the `target` percentile when at least
    TAIL_BEYOND samples lie beyond it, otherwise the highest percentile
    that still leaves TAIL_BEYOND samples beyond it. When that percentile
    would fall below the median (fewer than 2 * TAIL_BEYOND samples) there
    is no tail to report and the maximum is returned, with percentile 1.0.
    """
    pairs = sorted((v, c) for v, c in samples if c > 0)
    n = sum(c for _, c in pairs)
    if n == 0:
        return 0.0, 0.0, 0
    rank = min(math.ceil(target * n), n - TAIL_BEYOND)
    if rank < math.ceil(n / 2):
        rank = n
    seen = 0
    for v, c in pairs:
        seen += c
        if seen >= rank:
            return v, rank / n, n
    return pairs[-1][0], 1.0, n


def weighted_median(samples):
    pairs = sorted((v, c) for v, c in samples if c > 0)
    half = sum(c for _, c in pairs) / 2
    seen = 0
    for v, c in pairs:
        seen += c
        if seen >= half:
            return v
    return 0.0


def union_length(spans, lo, hi):
    """Total length of the union of [start, end] spans clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(lo, hi, spans):
    """Execute time not covered by any job: (hi - lo) minus the union of spans."""
    return (hi - lo) - union_length(spans, lo, hi)


def residual(parts_sum, whole):
    """Relative difference of a sum of layer times from the whole."""
    return (parts_sum - whole) / whole if whole else 0.0
