"""Seeded input generator: Gaussian clusters with planted anomalies.

Every row is a pure function of ``(seed, shape, stream, index)``: the
table is cut into fixed row blocks, and block ``b`` of stream ``s`` draws
from ``default_rng([seed, s, b])``. The same seed therefore gives the
same rows whether they are generated on the driver or inside a Spark
task, and no matter how the blocks are spread over tasks.

Normal rows come from one of a few Gaussian clusters. A planted anomaly
starts as a normal row of its cluster and is pushed out along two random
dimensions only, so many anomalies stay inside the normal
range on most coordinates and the forest cannot separate them perfectly
(AUC clearly below 1).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# rng streams: one per kind of draw, so adding rows to one never shifts another
STREAM_CENTERS = 1
STREAM_TABLE = 2
STREAM_REQUEST = 3

# table rows per generator block (the unit of determinism)
BLOCK_ROWS = 8192

# anomaly displacement range, in units of the cluster's own spread, along
# PUSHED_DIMS dimensions of each anomaly
ANOMALY_PUSH = (2.5, 5.0)
PUSHED_DIMS = 2
# Zipf exponent of segment sizes
SEGMENT_SKEW = 1.0

ROW_SCHEMA = "id long, seg int, label int, features array<double>"


@dataclass(frozen=True)
class Shape:
    rows: int
    dims: int
    clusters: int = 4
    anomaly_share: float = 0.01
    segments: int = 1


def segment_weights(shape: Shape) -> np.ndarray:
    w = 1.0 / np.arange(1, shape.segments + 1) ** SEGMENT_SKEW
    return w / w.sum()


def cluster_params(seed: int, shape: Shape, segment: int) -> tuple[np.ndarray, np.ndarray]:
    """(centers, spreads), each (clusters, dims), for one segment."""
    rng = np.random.default_rng([seed, STREAM_CENTERS, segment])
    centers = rng.normal(0.0, 4.0, size=(shape.clusters, shape.dims))
    spreads = rng.uniform(0.5, 1.5, size=(shape.clusters, shape.dims))
    return centers, spreads


def draw(rng: np.random.Generator, seed: int, shape: Shape, count: int) -> pd.DataFrame:
    """``count`` rows (seg, label, features) from ``rng``."""
    seg = rng.choice(shape.segments, size=count, p=segment_weights(shape)).astype(np.int32)
    label = (rng.random(count) < shape.anomaly_share).astype(np.int32)
    cluster = rng.integers(0, shape.clusters, size=count)
    noise = rng.standard_normal((count, shape.dims))
    push = rng.choice([-1.0, 1.0], size=(count, shape.dims)) * rng.uniform(
        ANOMALY_PUSH[0], ANOMALY_PUSH[1], size=(count, shape.dims)
    )
    # the PUSHED_DIMS smallest of dims uniform keys: a uniform subset per row
    keys = rng.random((count, shape.dims))
    pushed_dims = keys <= np.sort(keys, axis=1)[:, [PUSHED_DIMS - 1]]
    x = np.empty((count, shape.dims))
    for s in np.unique(seg):
        centers, spreads = cluster_params(seed, shape, int(s))
        rows = seg == s
        c = cluster[rows]
        x[rows] = centers[c] + spreads[c] * noise[rows]
        out = rows & (label == 1)
        c_out = cluster[out]
        x[out] += spreads[c_out] * push[out] * pushed_dims[out]
    return pd.DataFrame({"seg": seg, "label": label, "features": list(x)})


def table_block(seed: int, shape: Shape, block: int) -> pd.DataFrame:
    """Rows ``[block*BLOCK_ROWS, ...)`` of the seeded table, with their ids."""
    lo = block * BLOCK_ROWS
    count = min(BLOCK_ROWS, shape.rows - lo)
    pdf = draw(np.random.default_rng([seed, STREAM_TABLE, block]), seed, shape, count)
    pdf.insert(0, "id", np.arange(lo, lo + count, dtype=np.int64))
    return pdf


def num_blocks(shape: Shape) -> int:
    return -(-shape.rows // BLOCK_ROWS)


def table(seed: int, shape: Shape) -> pd.DataFrame:
    """The whole seeded table on the driver (tests and kernel replays)."""
    return pd.concat(
        [table_block(seed, shape, b) for b in range(num_blocks(shape))], ignore_index=True
    )


def request(seed: int, shape: Shape, index: int, rows: int) -> pd.DataFrame:
    """The ``index``-th request batch: fresh rows from the table's distribution."""
    return draw(np.random.default_rng([seed, STREAM_REQUEST, index]), seed, shape, rows)


def features(pdf: pd.DataFrame) -> np.ndarray:
    return np.asarray(pdf["features"].to_list(), dtype=np.float64)
