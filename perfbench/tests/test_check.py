"""Output comparison and the vendored inputs (no Spark needed)."""

import os

import pandas as pd

from perfbench import check
from perfbench.bench import DATA_DIR
from tools.driver_check import TABLES


def test_mismatch_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = pd.DataFrame({"v": ["z", "x", "y"], "k": [3, 1, 2]})
    assert check.mismatch(a, b) is None


def test_mismatch_reports_rows_columns_and_values():
    a = pd.DataFrame({"k": [1, 2]})
    assert check.mismatch(a, pd.DataFrame({"k": [1]})).startswith("rows")
    assert check.mismatch(a, pd.DataFrame({"j": [1, 2]})).startswith("columns")
    assert check.mismatch(a, pd.DataFrame({"k": [1, 3]})) == "k: 2 != 3"


def test_every_table_is_vendored():
    assert sorted(os.listdir(DATA_DIR)) == sorted(f"{t}.parquet" for t in TABLES)
    assert len(check.data_digest(DATA_DIR)) == 16


def test_prefetch_computes_missing_twins_in_a_child(tmp_path):
    sql = "SELECT count(*) AS n FROM region"
    twins = check.Twins(DATA_DIR, str(tmp_path), threads=1)
    twins.prefetch([sql])
    assert len(os.listdir(tmp_path)) == 1
    assert twins._con is None
    assert twins.result(sql)["n"].tolist() == [5]
