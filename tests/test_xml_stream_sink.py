"""XML source/sink roundtrip and the foreachBatch partition-upsert
streaming sink."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F


def test_xml_roundtrip_preserves_rows_and_schema(spark, tmp_path):
    from cid_etl_spark.sources.xml import read_xml, write_xml

    src = spark.createDataFrame(
        [(1, "Ação", 3.5), (2, "b;x", None), (3, None, -0.25)],
        "id long, name string, score double",
    )
    path = str(tmp_path / "xml_out")
    write_xml(src, path, row_tag="rec", root_tag="recs")
    assert glob.glob(os.path.join(path, "part-*"))

    back = read_xml(spark, path, row_tag="rec", schema="id long, name string, score double")
    assert sorted(back.columns) == ["id", "name", "score"]
    got = {r.id: (r.name, r.score) for r in back.collect()}
    assert got == {1: ("Ação", 3.5), 2: ("b;x", None), 3: (None, -0.25)}


def test_stream_upsert_to_parquet_is_idempotent(spark, tmp_path):
    """Replaying the same batch (fresh checkpoint, same input) must
    leave the target byte-identical in content: dynamic partition
    overwrite rewrites the touched day partitions in place.  The
    dynamic mode is scoped to the sink's writer: the session's
    ``partitionOverwriteMode`` is the same after the call."""
    from cid_etl_spark.sources.parquet import load_table
    from cid_etl_spark.streaming.events import stream_upsert_to_parquet

    sf = "/root/testdata/sf0.001"
    target = str(tmp_path / "daily_agg")

    def run(checkpoint: str) -> None:
        batch = load_table(spark, sf, "events")
        # file-source streaming needs a directory of compatible files;
        # the nanos-timestamp fixture goes through load_table instead,
        # so feed the stream from a re-written parquet copy
        staged = str(tmp_path / "staged_events")
        if not os.path.exists(staged):
            batch.write.mode("overwrite").parquet(staged)
        stream = spark.readStream.schema(batch.schema).parquet(staged)
        agg = (
            stream.withColumn("day", F.to_date("ts"))
            .groupBy("day", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
        )
        stream_upsert_to_parquet(
            agg, target, partition_col="day", checkpoint_dir=checkpoint
        )

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(mode_key)
    run(str(tmp_path / "ckpt1"))
    assert spark.conf.get(mode_key) == mode_before
    first = {
        (str(r.day), r.event_type): (r.n, r.total_value)
        for r in spark.read.parquet(target).collect()
    }
    assert first, "sink wrote nothing"

    run(str(tmp_path / "ckpt2"))  # full replay with a fresh checkpoint
    second = {
        (str(r.day), r.event_type): (r.n, r.total_value)
        for r in spark.read.parquet(target).collect()
    }
    assert second == first
