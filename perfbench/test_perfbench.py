"""Self-tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import itertools

import numpy as np
import pandas as pd
import pytest

from perfbench import gen, stats
from perfbench.harness import Span, covered, self_time

SHAPE = gen.Shape(rows=20_000, dims=5, segments=7)


def test_generator_is_a_function_of_the_seed():
    a, b = gen.table(3, SHAPE), gen.table(3, SHAPE)
    pd.testing.assert_frame_equal(a, b)
    assert np.array_equal(gen.features(a), gen.features(b))
    assert not np.array_equal(gen.features(a), gen.features(gen.table(4, SHAPE)))


def test_blocks_do_not_depend_on_which_task_makes_them():
    whole = gen.table(5, SHAPE)
    blocks = [gen.table_block(5, SHAPE, b) for b in reversed(range(gen.num_blocks(SHAPE)))]
    again = pd.concat(blocks[::-1], ignore_index=True)
    pd.testing.assert_frame_equal(whole, again)
    assert whole["id"].tolist() == list(range(SHAPE.rows))


def test_requests_are_seeded_and_fresh():
    r0 = gen.request(5, SHAPE, 0, 1000)
    assert np.array_equal(gen.features(r0), gen.features(gen.request(5, SHAPE, 0, 1000)))
    assert not np.array_equal(gen.features(r0), gen.features(gen.request(5, SHAPE, 1, 1000)))


def test_planted_share_and_segment_skew():
    t = gen.table(1, gen.Shape(rows=100_000, dims=4, segments=20))
    assert abs(t["label"].mean() - 0.01) < 0.002
    sizes = t["seg"].value_counts()
    assert sizes.index[0] == 0 and sizes.iloc[0] > 5 * sizes.iloc[-1]


def _pair_count_auc(scores, labels):
    pos = [s for s, y in zip(scores, labels) if y]
    neg = [s for s, y in zip(scores, labels) if not y]
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p, n in itertools.product(pos, neg))
    return wins / (len(pos) * len(neg))


@pytest.mark.parametrize("seed", range(5))
def test_rank_auc_equals_pair_count(seed):
    rng = np.random.default_rng(seed)
    labels = rng.random(300) < 0.2
    # few distinct values, so ties across classes are common
    scores = np.round(rng.random(300) + 0.3 * labels, 1)
    assert stats.auc(scores, labels) == pytest.approx(_pair_count_auc(scores, labels), abs=1e-12)


def test_rank_auc_extremes():
    assert stats.auc([0.1, 0.2, 0.9], [0, 0, 1]) == 1.0
    assert stats.auc([0.9, 0.2, 0.1], [0, 0, 1]) == 0.0
    assert stats.auc([0.5, 0.5, 0.5, 0.5], [0, 1, 0, 1]) == 0.5
    with pytest.raises(ValueError):
        stats.auc([0.1, 0.2], [1, 1])


@pytest.mark.parametrize(
    "n, p", [(9, None), (19, None), (20, 50), (39, 50), (40, 75), (100, 90), (199, 90), (200, 95), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= 10


def test_spread_is_interquartile_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    assert np.isnan(stats.spread([3.0]))
    q1, med, q3 = 2.75, 5.5, 8.25  # statistics.quantiles of 1..10, exclusive method
    assert stats.spread(list(range(1, 11))) == pytest.approx((q3 - q1) / med)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(0, 10), (2, 3)], 0, 10) == 10
    assert covered([(-5, -1), (11, 20)], 0, 10) == 0


def test_self_time_subtracts_only_own_children():
    spans = [
        Span("workload", 0, 20, None),
        Span("fit", 0, 10, 0),
        Span("job-1", 1, 3, 1),
        Span("job-2", 2, 5, 1),
        Span("job-3", 8, 12, 1),  # ends after its parent: clipped
        Span("pass", 12, 18, 0),
    ]
    assert self_time(spans, 1) == 4
    assert self_time(spans, 5) == 6
    assert self_time(spans, 0) == 20 - 10 - 6
