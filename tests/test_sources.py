"""Tests for CSV ingestion robustness (S1-S4), the quoted single-file
sink (S6) and the inline constant-table source."""

from __future__ import annotations

import csv
import os

import pytest

from cid_etl_spark.sources.csv import (
    find_file_by_fragment,
    read_csv_default,
    read_csv_robust,
)
from cid_etl_spark.sources.sinks import write_csv_single
from cid_etl_spark.sources.values import values_table

from .conftest import SF_SMOKE


def _write(path, text, encoding="utf-8"):
    with open(path, "w", encoding=encoding, newline="") as f:
        f.write(text)
    return path


def test_robust_reader_semicolon_latin1(spark, tmp_path):
    p = _write(
        str(tmp_path / "latin.csv"),
        "codigo;descrição\nA00;Cólera\n",
        encoding="latin1",
    )
    df = read_csv_robust(spark, p)
    assert df.columns == ["codigo", "descrição"]
    assert df.collect()[0]["descrição"] == "Cólera"


def test_robust_reader_comma_utf8(spark, tmp_path):
    p = _write(str(tmp_path / "plain.csv"), "codigo,descricao\nA00,Colera\n")
    df = read_csv_robust(spark, p)
    assert df.columns == ["codigo", "descricao"]


def test_robust_reader_single_column_fallback(spark, tmp_path):
    # no separator matches → fall back to plain read, 1 column
    p = _write(str(tmp_path / "one.csv"), "codigo\nA00\nB99\n")
    df = read_csv_robust(spark, p)
    assert df.columns == ["codigo"]
    assert df.count() == 2


def test_missing_file_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_csv_robust(spark, str(tmp_path / "nope.csv"))
    with pytest.raises(FileNotFoundError):
        read_csv_default(spark, str(tmp_path / "nope.csv"))


def test_find_file_by_fragment(tmp_path):
    open(tmp_path / "CID-10-CAPITULOS.CSV", "w").close()
    open(tmp_path / "readme.txt", "w").close()
    assert find_file_by_fragment(str(tmp_path), "capitulos").endswith("CAPITULOS.CSV")
    with pytest.raises(FileNotFoundError):
        find_file_by_fragment(str(tmp_path), "grupos")


def test_write_csv_single_bom_and_quoting(spark, tmp_path):
    df = spark.createDataFrame([("A00", "Cólera")], "codigo string, titulo string")
    out = str(tmp_path / "out.csv")
    write_csv_single(df, out)
    with open(out, "rb") as f:
        raw = f.read()
    assert raw.startswith(b"\xef\xbb\xbf")
    body = raw.decode("utf-8-sig")
    rows = list(csv.reader(body.splitlines(), delimiter=";"))
    assert rows[0] == ["codigo", "titulo"]
    assert rows[1] == ["A00", "Cólera"]
    # quoteAll: every field quoted in the raw bytes
    assert '"A00";"Cólera"' in body


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_values_table_is_a_local_scan(spark):
    """A tiny constant table runs as a LocalTableScan in the JVM — no
    pickled RDD, so no Python worker — typed by its DDL, with quotes
    and backslashes kept; the range-join bands table is built so."""
    from cid_etl_spark.queries import range_join_acctbal_bands

    rows = [("it's", -1000000.0, 2**40), ("a\\b", float("inf"), -3)]
    df = values_table(spark, rows, "name string, x double, n bigint")
    assert df.dtypes == [("name", "string"), ("x", "double"), ("n", "bigint")]
    assert [tuple(r) for r in df.collect()] == rows
    assert _executed_plan(df).lstrip().startswith("LocalTableScan")

    plan = _executed_plan(range_join_acctbal_bands(spark, SF_SMOKE))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
