"""Small statistics helpers shared by the benchmark and its self-tests.

Timings are summarised as a median plus a *tail*: the highest of a fixed
ladder of percentiles that still has at least ``TAIL_MIN_BEYOND`` samples
beyond it, so the tail is never read off one or two outliers. Span
self-time is a span's duration minus the part of its interval that its
child spans cover.
"""

from __future__ import annotations

import math
import statistics

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples (rounded
    before the ceiling so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def median(values) -> float:
    xs = list(values)
    if not xs:
        raise ValueError("median of an empty sample")
    return float(statistics.median(xs))


def tail(values) -> dict | None:
    """The highest ladder percentile with >= TAIL_MIN_BEYOND samples
    strictly above its nearest rank: {"p", "value", "n", "beyond"}, or
    None when even the median leaves fewer than that many beyond it."""
    xs = sorted(values)
    n = len(xs)
    best = None
    for p in TAIL_LADDER:
        rank = _rank(p, n)
        beyond = n - rank
        if n and beyond >= TAIL_MIN_BEYOND:
            best = {"p": p, "value": xs[rank - 1], "n": n, "beyond": beyond}
    return best


def summarize(values) -> dict:
    """Median, tail and sample count of one timing series (ms)."""
    xs = list(values)
    out = {"n": len(xs)}
    if xs:
        out["p50"] = median(xs)
        out["tail"] = tail(xs)
    return out


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, child_intervals) -> float:
    """A span's duration minus the part of [start, end) its children
    cover (children clipped to the parent; overlapping children count
    once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in child_intervals]
    return (end - start) - union_length(clipped)
