"""Percentiles, PUT-unit arithmetic and small summaries shared by all workloads."""

import math

# One Kinesis PUT payload unit: 25 KiB.
PUT_UNIT_BYTES = 25 * 1024


def percentile(values, p):
    """Nearest-rank percentile of `values` (0 < p <= 100)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = math.ceil(p / 100.0 * len(xs))
    return xs[max(rank, 1) - 1]


def samples_beyond(n, p):
    """How many of n samples lie strictly above the nearest-rank p-th percentile."""
    return n - max(math.ceil(p / 100.0 * n), 1)


def supports(n, p, beyond=10):
    """True when n samples leave at least `beyond` samples above percentile p."""
    return n > 0 and samples_beyond(n, p) >= beyond


def min_samples(p, beyond=10):
    """The fewest samples that leave `beyond` samples above percentile p."""
    n = 1
    while not supports(n, p, beyond):
        n += 1
    return n


def put_units(entry_bytes):
    """Kinesis PUT payload units one entry of `entry_bytes` costs."""
    return max(1, math.ceil(entry_bytes / PUT_UNIT_BYTES))


def bursts(events, gap):
    """Group time-sorted (t, n) events into bursts split by pauses longer
    than `gap`; returns [(t_end, n_total)] per burst."""
    out = []
    last = None
    for t, n in events:
        if last is None or t - last > gap:
            out.append([t, 0])
        out[-1][0] = t
        out[-1][1] += n
        last = t
    return [tuple(b) for b in out]


def burst_rate(events, start, end, gap):
    """Delivery rate over [start, end) measured between burst ends, so a
    window edge falling inside a micro-batch does not count part of it.
    Falls back to count / window with fewer than two burst ends inside."""
    inside = [b for b in bursts(events, gap) if start <= b[0] < end]
    if len(inside) < 2:
        return sum(n for t, n in events if start <= t < end) / (end - start)
    return sum(n for _, n in inside[1:]) / (inside[-1][0] - inside[0][0])


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0
