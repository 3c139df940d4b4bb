"""Pure statistics: percentiles, spreads and the paired A/B decision rule."""

from __future__ import annotations

import math
import statistics

# Percentiles tried from the top down by tail_percentile().
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile of n samples (the
    epsilon keeps 99.9 % of 10 000 at rank 9 990 despite float rounding)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100])."""
    return sorted(values)[_rank(len(values), p) - 1]


def beyond(n: int, p: float) -> int:
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile of LADDER that still has at least MIN_BEYOND
    samples beyond it, as (p, value); None when even the median has not."""
    for p in LADDER:
        if beyond(len(values), p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def iqr(values: list[float]) -> float:
    """Distance between the first and third quartile, as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def spread(values: list[float]) -> float:
    """IQR as a share of the median."""
    m = median(values)
    return iqr(values) / abs(m) if m else math.inf


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


MIN_PAIRS = 10


def decide(parent: list[float], change: list[float], better: str, bound: float,
           parent_failed: int = 0, change_failed: int = 0) -> str:
    """Verdict for one metric from paired runs (parent[i], change[i]).

    - "gain": at least 9/10 of the pairs won by the change (ties count for
      neither), the medians differ by more than the parent's IQR, and the
      change fails no more operations than the parent;
    - "unresolved": the parent's spread exceeds the bound and not every
      change run beats every parent run;
    - "regressed": the change's median is worse than the parent's by more
      than ``bound`` (a share of the parent's median);
    - "no-regression": otherwise.
    Fewer than MIN_PAIRS pairs never yield "gain".
    """
    if len(parent) != len(change) or len(parent) < 2:
        raise ValueError("need two equal-length lists of at least 2 runs")
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    mp, mc = median(parent), median(change)
    improvement = sign * (mc - mp)
    if (len(parent) >= MIN_PAIRS and wins >= 0.9 * len(parent)
            and improvement > iqr(parent) and change_failed <= parent_failed):
        return "gain"
    all_better = (min(change) > max(parent)) if sign > 0 else (max(change) < min(parent))
    if spread(parent) > bound and not all_better:
        return "unresolved"
    if -improvement > bound * abs(mp):
        return "regressed"
    return "no-regression"
