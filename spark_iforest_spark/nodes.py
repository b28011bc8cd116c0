"""Flat-array isolation-tree encoding.

The reference stores trees as an object graph of ``IFNode``s
(IFNode.scala:3-22) and flattens them to pre-order ``NodeData`` rows for
persistence (IForest.scala:189-217). We use the flat encoding *everywhere*
— in memory, on the wire, and on disk — because numpy index-chasing over
flat arrays is how the scorer vectorizes (SURVEY.md §2.1 O15).

Encoding (one ``Tree`` = parallel numpy arrays indexed by pre-order node id):
    feature_index[i]  int32   — split feature (ORIGINAL column index), -1 for leaf
    feature_value[i]  float64 — split threshold, -1.0 for leaf
    left[i]/right[i]  int32   — child node ids, -1 for leaf
    num_instance[i]   int64   — leaf row count, 0 for internal nodes

Matches the reference's persisted ``NodeData`` sentinel conventions
(IForest.scala:189-196) so a model round-trips bit-identically.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# The node table: one row per node, pre-order ids per tree. The flat form
# travels the applyInPandas wire during training and keys the segmented
# model relation; the persisted form nests everything after ``treeID`` in
# a ``nodeData`` struct (reference EnsembleNodeData, IForest.scala:189-196,
# 225-228). Other modules name these columns only through the constants
# below.
NODE_COLUMNS = (
    "treeID", "id", "featureIndex", "featureValue", "leftChild", "rightChild", "numInstance"
)
TREE_ID, NODE_FIELDS = NODE_COLUMNS[0], NODE_COLUMNS[1:]
FLAT_NODE_SCHEMA = (
    "treeID INT, id INT, featureIndex INT, featureValue DOUBLE, "
    "leftChild INT, rightChild INT, numInstance BIGINT"
)


@dataclass
class Tree:
    """One isolation tree as parallel pre-order flat arrays."""

    feature_index: np.ndarray  # int32
    feature_value: np.ndarray  # float64
    left: np.ndarray  # int32
    right: np.ndarray  # int32
    num_instance: np.ndarray  # int64

    @property
    def num_nodes(self) -> int:
        return len(self.feature_index)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Tree):
            return NotImplemented
        return (
            np.array_equal(self.feature_index, other.feature_index)
            and np.array_equal(self.feature_value, other.feature_value)
            and np.array_equal(self.left, other.left)
            and np.array_equal(self.right, other.right)
            and np.array_equal(self.num_instance, other.num_instance)
        )


class TreeBuilder:
    """Accumulates nodes in pre-order during induction; emits a Tree."""

    def __init__(self) -> None:
        self.feature_index: list[int] = []
        self.feature_value: list[float] = []
        self.left: list[int] = []
        self.right: list[int] = []
        self.num_instance: list[int] = []

    def add_leaf(self, num_instance: int) -> int:
        nid = len(self.feature_index)
        self.feature_index.append(-1)
        self.feature_value.append(-1.0)
        self.left.append(-1)
        self.right.append(-1)
        self.num_instance.append(int(num_instance))
        return nid

    def add_internal(self, feature_index: int, feature_value: float) -> int:
        """Reserve an internal node; children are patched in later (pre-order)."""
        nid = len(self.feature_index)
        self.feature_index.append(int(feature_index))
        self.feature_value.append(float(feature_value))
        self.left.append(-1)
        self.right.append(-1)
        self.num_instance.append(0)
        return nid

    def set_children(self, nid: int, left: int, right: int) -> None:
        self.left[nid] = left
        self.right[nid] = right

    def build(self) -> Tree:
        return Tree(
            feature_index=np.asarray(self.feature_index, dtype=np.int32),
            feature_value=np.asarray(self.feature_value, dtype=np.float64),
            left=np.asarray(self.left, dtype=np.int32),
            right=np.asarray(self.right, dtype=np.int32),
            num_instance=np.asarray(self.num_instance, dtype=np.int64),
        )


def tree_to_rows(tree_id: int, tree: Tree) -> list[tuple]:
    """One tree's node table as Python tuples in ``NODE_COLUMNS`` order."""
    table = forest_to_pandas([tree], tree_id).astype(object)
    return list(table.itertuples(index=False, name=None))


def _cat(arrays: list[np.ndarray], dtype) -> np.ndarray:
    return np.concatenate(arrays).astype(dtype, copy=False) if arrays else np.empty(0, dtype)


def forest_to_pandas(trees: list[Tree], first_tree_id: int = 0) -> pd.DataFrame:
    """The flat node table (``NODE_COLUMNS``) of ``trees``, tree ids
    counting up from ``first_tree_id``: whole-column numpy concatenation,
    no per-node Python objects."""
    sizes = np.array([t.num_nodes for t in trees], dtype=np.int64)
    starts = np.cumsum(sizes) - sizes
    tree_ids = np.arange(first_tree_id, first_tree_id + len(trees), dtype=np.int32)
    return pd.DataFrame(
        {
            "treeID": np.repeat(tree_ids, sizes),
            "id": (np.arange(sizes.sum()) - np.repeat(starts, sizes)).astype(np.int32),
            "featureIndex": _cat([t.feature_index for t in trees], np.int32),
            "featureValue": _cat([t.feature_value for t in trees], np.float64),
            "leftChild": _cat([t.left for t in trees], np.int32),
            "rightChild": _cat([t.right for t in trees], np.int32),
            "numInstance": _cat([t.num_instance for t in trees], np.int64),
        }
    )


def pandas_to_forest(pdf: pd.DataFrame) -> list[Tree]:
    """Rebuild a forest from a node table in any row order (extra columns
    are ignored). Enforces the reference's load invariants
    (IForest.scala:259-281): tree ids dense 0..T-1, node ids dense 0..n-1
    per tree (root 0), forest ordered by treeID."""
    col = {c: pdf[c].to_numpy() for c in NODE_COLUMNS}
    order = np.lexsort((col["id"], col["treeID"]))
    tid = col["treeID"][order]
    nid = col["id"][order]
    fi = col["featureIndex"][order].astype(np.int32)
    fv = col["featureValue"][order].astype(np.float64)
    lc = col["leftChild"][order].astype(np.int32)
    rc = col["rightChild"][order].astype(np.int32)
    ni = col["numInstance"][order].astype(np.int64)
    uniq, starts = np.unique(tid, return_index=True)
    if not np.array_equal(uniq, np.arange(len(uniq))):
        raise ValueError(
            f"tree ids must be dense 0..{len(uniq) - 1}, got {uniq.tolist()}"
        )
    bounds = np.append(starts, len(tid))
    forest: list[Tree] = []
    for t in range(len(uniq)):
        a, b = int(bounds[t]), int(bounds[t + 1])
        if not np.array_equal(nid[a:b], np.arange(b - a)):
            raise ValueError(f"tree {t}: node ids must be dense 0..{b - a - 1}")
        forest.append(
            Tree(
                feature_index=fi[a:b].copy(),
                feature_value=fv[a:b].copy(),
                left=lc[a:b].copy(),
                right=rc[a:b].copy(),
                num_instance=ni[a:b].copy(),
            )
        )
    return forest


def rows_to_forest(rows) -> list[Tree]:
    """``pandas_to_forest`` over node rows: dicts keyed by ``NODE_COLUMNS``
    or tuples in that order."""
    return pandas_to_forest(pd.DataFrame.from_records(list(rows), columns=NODE_COLUMNS))


@dataclass
class PackedForest:
    """All trees concatenated into single arrays for the batch scorer.

    ``offsets[t]`` is the index of tree t's root. Child pointers are
    ABSOLUTE indices into the packed arrays; leaves self-loop (left = right
    = own id) so the descent is branchless — every row can take a step at
    every level, rows already at a leaf just stay put. ``leaf_adjust``
    precomputes c(numInstance) for leaves (0 for internal nodes), and
    ``feature_index`` is clamped to 0 at leaves (never used, keeps gathers
    in-bounds). One contiguous allocation → one broadcast payload.
    """

    offsets: np.ndarray  # int64, len T+1
    feature_index: np.ndarray  # int64, clamped >= 0 (int64 keeps every
    #   fancy-index in the descent on numpy's same-dtype fast path)
    feature_value: np.ndarray  # float64
    left: np.ndarray  # int64 absolute; leaf -> self
    right: np.ndarray  # int64 absolute; leaf -> self
    is_leaf: np.ndarray  # bool
    not_leaf_f: np.ndarray  # float64 1.0 at internal nodes (depth increment)
    leaf_adjust: np.ndarray  # float64: c(numInstance) at leaves, else 0
    max_depth: int  # deepest leaf across the forest
    tree_depth: np.ndarray  # int32, per-tree deepest leaf

    @property
    def num_trees(self) -> int:
        return len(self.offsets) - 1


def pack_forest(trees: list[Tree]) -> PackedForest:
    from spark_iforest_spark.scorer import _avg_length_vec

    sizes = np.array([t.num_nodes for t in trees], dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(sizes)])
    fi = np.concatenate([t.feature_index for t in trees]).astype(np.int32)
    fv = np.concatenate([t.feature_value for t in trees])
    ni = np.concatenate([t.num_instance for t in trees])
    is_leaf = fi < 0
    n = len(fi)
    ids = np.arange(n, dtype=np.int64)
    left = np.concatenate(
        [t.left.astype(np.int64) + off for t, off in zip(trees, offsets)]
    )
    right = np.concatenate(
        [t.right.astype(np.int64) + off for t, off in zip(trees, offsets)]
    )
    left[is_leaf] = ids[is_leaf]
    right[is_leaf] = ids[is_leaf]
    leaf_adjust = np.zeros(n, dtype=np.float64)
    leaf_adjust[is_leaf] = _avg_length_vec(ni[is_leaf])
    # depth of each node via one BFS-free pass: depth(child) = depth(parent)+1,
    # parents always precede children in pre-order
    depth = np.zeros(n, dtype=np.int32)
    internal = ~is_leaf
    for i in np.flatnonzero(internal):
        depth[left[i]] = depth[i] + 1
        depth[right[i]] = depth[i] + 1
    tree_depth = np.array(
        [
            int(depth[offsets[t] : offsets[t + 1]].max()) if sizes[t] else 0
            for t in range(len(trees))
        ],
        dtype=np.int32,
    )
    return PackedForest(
        offsets=offsets,
        feature_index=np.where(is_leaf, 0, fi).astype(np.int64),
        feature_value=fv,
        left=left,
        right=right,
        is_leaf=is_leaf,
        not_leaf_f=internal.astype(np.float64),
        leaf_adjust=leaf_adjust,
        max_depth=int(depth[is_leaf].max()) if n else 0,
        tree_depth=tree_depth,
    )
