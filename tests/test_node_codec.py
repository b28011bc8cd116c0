"""The node-table codec in ``nodes.py``: flat table <-> forest, and loading
a reference-layout ``data`` parquet (IForest.scala:189-228, 259-281)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.ml.linalg import Vectors

from spark_iforest_spark import IForest, IForestModel
from spark_iforest_spark.nodes import forest_to_pandas, pandas_to_forest, rows_to_forest
from spark_iforest_spark.trainer import train_tree

# the reference writes EnsembleNodeData(treeID: Int, nodeData: NodeData)
# with Scala primitives: every field non-null
NODE_DATA = pa.struct(
    [
        pa.field("id", pa.int32(), nullable=False),
        pa.field("featureIndex", pa.int32(), nullable=False),
        pa.field("featureValue", pa.float64(), nullable=False),
        pa.field("leftChild", pa.int32(), nullable=False),
        pa.field("rightChild", pa.int32(), nullable=False),
        pa.field("numInstance", pa.int64(), nullable=False),
    ]
)
REFERENCE_SCHEMA = pa.schema(
    [pa.field("treeID", pa.int32(), nullable=False), pa.field("nodeData", NODE_DATA, nullable=False)]
)


def _forest(n_trees=4, seed=2):
    rng = np.random.default_rng(seed)
    return [train_tree(rng.standard_normal((40, 3)), 6, 1.0, seed, t) for t in range(n_trees)]


def _write_reference_data(path, flat: pd.DataFrame) -> None:
    nested = pa.StructArray.from_arrays(
        [pa.array(flat[f.name].to_numpy(), type=f.type) for f in NODE_DATA],
        fields=list(NODE_DATA),
    )
    table = pa.Table.from_arrays(
        [pa.array(flat["treeID"].to_numpy(), type=pa.int32()), nested], schema=REFERENCE_SCHEMA
    )
    pq.write_table(table, str(path / "data" / "part-00000.parquet"))


def _saved_model_dir(spark, tmp_path):
    df = spark.createDataFrame(
        [(Vectors.dense([float(i), float(i % 3)]),) for i in range(20)], ["features"]
    )
    IForest(numTrees=2, maxSamples=8.0, seed=1).fit(df).write().overwrite().save(str(tmp_path))
    for f in (tmp_path / "data").iterdir():
        f.unlink()
    return tmp_path


def test_forest_to_pandas_round_trip_any_row_order():
    trees = _forest()
    flat = forest_to_pandas(trees)
    assert len(flat) == sum(t.num_nodes for t in trees)
    assert pandas_to_forest(flat.sample(frac=1.0, random_state=0)) == trees
    shifted = forest_to_pandas(trees[1:], first_tree_id=1)
    assert shifted["treeID"].min() == 1
    assert pandas_to_forest(pd.concat([forest_to_pandas(trees[:1]), shifted])) == trees
    assert rows_to_forest(flat.to_dict("records")) == trees


@pytest.mark.parametrize(
    "corrupt, message",
    [
        (lambda f: f[f["treeID"] != 1].copy(), "tree ids must be dense"),
        (lambda f: f.assign(treeID=f["treeID"] + 1), "tree ids must be dense"),
        (lambda f: f.drop(index=f.index[(f["treeID"] == 2) & (f["id"] == 1)]), "tree 2: node ids"),
        (lambda f: pd.concat([f, f.iloc[:1]]), "tree 0: node ids"),
    ],
)
def test_decoders_reject_non_dense_ids(corrupt, message):
    bad = corrupt(forest_to_pandas(_forest()))
    with pytest.raises(ValueError, match=message):
        pandas_to_forest(bad)
    with pytest.raises(ValueError, match=message):
        rows_to_forest(bad.to_dict("records"))


def test_load_reference_layout_parquet(spark, tmp_path):
    path = _saved_model_dir(spark, tmp_path)
    trees = _forest()
    flat = forest_to_pandas(trees).sample(frac=1.0, random_state=7)
    _write_reference_data(path, flat)
    loaded = IForestModel.load(str(path))
    assert loaded.trees == trees


@pytest.mark.parametrize(
    "corrupt, message",
    [
        (lambda f: f[f["treeID"] != 0], "tree ids must be dense"),
        (lambda f: f[~((f["treeID"] == 1) & (f["id"] == 2))], "tree 1: node ids"),
    ],
)
def test_load_reference_layout_rejects_non_dense_ids(spark, tmp_path, corrupt, message):
    path = _saved_model_dir(spark, tmp_path)
    _write_reference_data(path, corrupt(forest_to_pandas(_forest())))
    with pytest.raises(ValueError, match=message):
        IForestModel.load(str(path))
