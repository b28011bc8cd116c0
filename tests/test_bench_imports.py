"""The benchmark under ``perfbench/`` imports library names directly
(``nodes.rows_to_forest``, ``scorer.anomaly_scores``, ...). Importing its
modules here makes removing such a name fail the test suite instead of
the next benchmark run."""

import importlib

import pytest


@pytest.mark.parametrize("module", ["perfbench.workloads", "perfbench.run"])
def test_benchmark_modules_import(module):
    importlib.import_module(module)
