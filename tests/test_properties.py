"""Property-based tests (hypothesis) for the pure-numpy core.

These don't need a SparkSession — they pin the algebraic invariants the
distributed operators rely on.
"""

import math

import numpy as np
from hypothesis import given, settings, strategies as st

from spark_iforest_spark.nodes import (
    Tree,
    forest_to_pandas,
    pack_forest,
    pandas_to_forest,
    rows_to_forest,
    tree_to_rows,
)
from spark_iforest_spark.scorer import EULER_CONSTANT, anomaly_scores, avg_length, path_lengths
from spark_iforest_spark.trainer import build_itree, depth_cap, train_tree

matrices = st.integers(2, 64).flatmap(
    lambda n: st.integers(1, 6).flatmap(
        lambda d: st.integers(0, 2**32 - 1).map(
            lambda seed: np.random.default_rng(seed).random((n, d))
        )
    )
)


@given(matrices, st.integers(1, 12), st.integers(0, 2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_tree_invariants(x, max_depth, seed):
    tree = train_tree(x, max_depth, 1.0, seed=seed, tree_id=0)
    leaves = tree.feature_index < 0
    internal = ~leaves
    # leaf instance counts partition the sample
    assert tree.num_instance[leaves].sum() == len(x)
    assert (tree.num_instance[internal] == 0).all()
    # pre-order: left child = parent+1; children ids > parent
    parents = np.flatnonzero(internal)
    np.testing.assert_array_equal(tree.left[parents], parents + 1)
    assert (tree.right[parents] > parents).all()
    # split features within dimensionality
    assert (tree.feature_index[internal] < x.shape[1]).all()
    # node count bound: full binary tree of capped depth
    cap = depth_cap(max_depth, len(x))
    assert tree.num_nodes <= 2 ** (cap + 1) - 1


@given(matrices, st.integers(1, 10), st.integers(0, 2**31 - 1))
@settings(max_examples=25, deadline=None)
def test_roundtrip_and_scores(x, max_depth, seed):
    trees = [train_tree(x, max_depth, 1.0, seed=seed, tree_id=i) for i in range(3)]
    # persistence roundtrip is lossless
    rows = [dict(zip(
        ["treeID", "id", "featureIndex", "featureValue", "leftChild", "rightChild", "numInstance"],
        r)) for t, tree in enumerate(trees) for r in tree_to_rows(t, tree)]
    rebuilt = rows_to_forest(rows)
    assert all(a == b for a, b in zip(trees, rebuilt))
    # ... and through the flat node table, in any row order
    flat = forest_to_pandas(trees)
    assert pandas_to_forest(flat.iloc[::-1]) == trees
    # scores are in (0, 1] and deterministic
    forest = pack_forest(trees)
    s1 = anomaly_scores(forest, x, 256.0)
    s2 = anomaly_scores(forest, x, 256.0)
    np.testing.assert_array_equal(s1, s2)
    assert ((s1 > 0) & (s1 <= 1)).all()


@given(st.floats(0, 1e9, allow_nan=False))
def test_avg_length_nonnegative_monotone_pieces(n):
    c = avg_length(n)
    assert c >= 0
    if n > 2:
        expected = 2 * (math.log(n - 1) + EULER_CONSTANT) - 2 * (n - 1) / n
        assert c == expected


@given(matrices)
@settings(max_examples=20, deadline=None)
def test_path_lengths_bounded_by_tree_depth(x):
    trees = [train_tree(x, 8, 1.0, seed=7, tree_id=i) for i in range(4)]
    forest = pack_forest(trees)
    pl = path_lengths(forest, x)
    # path length <= max depth + max leaf adjustment
    max_adj = forest.leaf_adjust.max() if len(forest.leaf_adjust) else 0
    assert (pl <= forest.max_depth + max_adj + 1e-9).all()
    assert (pl >= 0).all()


@given(st.integers(2, 10_000), st.integers(1, 30))
def test_depth_cap_bounds(n, md):
    cap = depth_cap(md, n)
    assert 1 <= cap <= md
    assert cap <= math.ceil(math.log2(max(2, n)))
