"""``load_table`` infers each parquet file's schema once per process and
re-infers when the file at a path changes."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from cid_etl_spark.sources import parquet
from cid_etl_spark.sources.parquet import load_table

from .conftest import SF_SMOKE


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_a_file_fires_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    sf_dir = str(tmp_path)
    first = _jobs_in_group(spark, "parquet-first-load", lambda: load_table(spark, sf_dir, "t"))
    second = _jobs_in_group(spark, "parquet-second-load", lambda: load_table(spark, sf_dir, "t"))
    assert (first, second) == (1, 0)
    assert sorted(load_table(spark, sf_dir, "t").collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_rewritten_file_gets_new_schema_and_split_estimate(spark, tmp_path):
    path = tmp_path / "t.parquet"
    sf_dir = str(tmp_path)
    old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        pq.write_table(pa.table({"k": [1, 2]}), path)
        assert load_table(spark, sf_dir, "t").dtypes == [("k", "bigint")]
        assert parquet._FOOTPRINTS[str(path)].splits == 1

        n = 4000
        pq.write_table(
            pa.table({"k": [str(i) for i in range(n)], "x": [float(i) for i in range(n)]}),
            path,
            row_group_size=n // 4,
        )
        assert pq.ParquetFile(path).metadata.num_row_groups == 4
        assert os.path.getsize(path) > 4 * 1024
        df = load_table(spark, sf_dir, "t")
        assert df.dtypes == [("k", "string"), ("x", "double")]
        assert parquet._FOOTPRINTS[str(path)].splits == 4
        assert df.count() == n
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)


def test_events_ts_type_is_stable_across_loads(spark):
    first = dict(load_table(spark, SF_SMOKE, "events").dtypes)["ts"]
    second = load_table(spark, SF_SMOKE, "events")
    assert first.startswith("timestamp")
    assert dict(second.dtypes)["ts"] == first
    assert second.filter("ts IS NULL").count() == 0


def test_events_load_does_not_invalidate_other_files(spark, monkeypatch):
    """The session reads NANOS timestamps as int64 from the start
    (``session.DEFAULT_CONF``), so loading ``events`` changes no conf
    and the footprint of a file loaded before it stays valid."""
    monkeypatch.setattr(parquet, "_FOOTPRINTS", {})
    assert spark.conf.get(parquet._NANOS_AS_LONG) == "true"
    jobs = [
        _jobs_in_group(spark, f"parquet-order-{i}", lambda t=t: load_table(spark, SF_SMOKE, t))
        for i, t in enumerate(("lineitem", "events", "lineitem"))
    ]
    assert jobs == [1, 1, 0]
    assert spark.conf.get(parquet._NANOS_AS_LONG) == "true"
    assert dict(load_table(spark, SF_SMOKE, "events").dtypes)["ts"].startswith("timestamp")
