"""Statistics the benchmark reports: rank AUC, percentiles, quartile spread."""

from __future__ import annotations

import statistics

import numpy as np


def auc(scores, labels) -> float:
    """Area under the ROC curve by the rank statistic (Mann-Whitney U).

    Tied scores share their average rank, so a tie between a positive and
    a negative counts one half, exactly as in the pair count."""
    s = np.asarray(scores, dtype=np.float64)
    y = np.asarray(labels).astype(bool)
    n_pos = int(y.sum())
    n_neg = len(y) - n_pos
    if n_pos == 0 or n_neg == 0:
        raise ValueError("AUC needs both positive and negative labels")
    order = np.argsort(s, kind="mergesort")
    sorted_s = s[order]
    # average 1-based rank of each run of equal scores
    starts = np.flatnonzero(np.r_[True, sorted_s[1:] != sorted_s[:-1]])
    ends = np.r_[starts[1:], len(s)]
    run_rank = (starts + 1 + ends) / 2.0
    ranks = np.empty(len(s))
    ranks[order] = np.repeat(run_rank, ends - starts)
    u = ranks[y].sum() - n_pos * (n_pos + 1) / 2.0
    return float(u / (n_pos * n_neg))


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten of ``n`` samples beyond it.

    Percentile p leaves n*(100-p)/100 samples above it; None when even the
    median has fewer than ten beyond it."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) >= 10 * 100:
            return p
    return None


def percentile(values, p: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), p))


def median(values) -> float:
    return float(statistics.median(values))


def spread(values) -> float:
    """Distance between first and third quartile as a share of the median
    (NaN for a single value)."""
    if len(values) < 2:
        return float("nan")
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(med) if med else float("inf")
