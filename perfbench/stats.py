"""The benchmark's own arithmetic: percentiles, spreads, self time,
seeded ingest drops, metric names and bound verdicts.

Kept free of Spark so the rules can be tested on their own
(``python3 -m pytest perfbench -q``).
"""

from __future__ import annotations

import random
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# A tail percentile needs this many samples above it to be reported.
TAIL_BEYOND = 10


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: ``value`` is the sample with
    exactly ``beyond`` samples ranked above it, ``percentile`` its rank
    as a share of ``n`` in percent. Below ``2 * beyond`` samples that
    rank would fall under the median, which is no tail: the maximum is
    returned instead, with percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return xs[-1], 100.0, n
    k = n - beyond - 1
    return xs[k], 100.0 * (k + 1) / n, n


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else float("inf")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the union of its children's intervals, each
    clipped to the span (children may overlap when they run on other
    threads)."""
    clipped = [
        (max(a, start), min(b, end)) for a, b in children if min(b, end) > max(a, start)
    ]
    return (end - start) - union_length(clipped)


def assign_drops(seed: int, doc_ids: list[int], n_drops: int) -> list[list[int]]:
    """Deterministic seed -> ingest drop assignment: shuffle the
    documents with ``seed`` and deal them into ``n_drops`` drops of
    near-equal size, each drop sorted by id."""
    ids = list(doc_ids)
    random.Random(seed).shuffle(ids)
    return [sorted(ids[i::n_drops]) for i in range(n_drops)]


def verdict(base: list[float], new: list[float], bound: float, better: str) -> str:
    """Compare two sets of runs of one metric against its bound.

    - ``better``: the new runs win at least nine tenths of all
      (base, new) pairs, ties counting for neither, and the medians
      differ by more than the base runs' inter-quartile distance;
    - ``unresolved``: either side spreads wider than the bound, unless
      every new run beats every base run;
    - ``worse``: the new median is worse than the base median by more
      than ``bound`` as a share of the base median;
    - ``no worse`` otherwise.
    """
    sign = 1.0 if better == "lower" else -1.0
    b_med, n_med = statistics.median(base), statistics.median(new)
    pairs = [(x, y) for x in base for y in new]
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    q1, _, q3 = quartiles(base)
    if wins >= 0.9 * len(pairs) and abs(n_med - b_med) > (q3 - q1):
        return "better"
    if max(spread(base), spread(new)) > bound and wins < len(pairs):
        return "unresolved"
    if sign * (n_med - b_med) > bound * abs(b_med):
        return "worse"
    return "no worse"
