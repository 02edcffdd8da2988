"""Structured Streaming tests: batch/stream parity for windows and
sessions, watermark-bounded dedup.  Bounded streams drained with
availableNow into memory sinks."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from cid_etl_spark.sources.parquet import load_table
from cid_etl_spark.streaming.events import (
    hourly_event_counts,
    read_event_stream,
    run_stream_to_memory,
    sessionized_event_counts,
    stream_dedup_events,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_stream_dir(spark, tmp_path_factory):
    # re-write the fixture with µs timestamps (and in several files so
    # the file source actually streams in multiple micro-batches)
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def _batch_events(spark, path):
    return spark.read.parquet(path)


def test_hourly_counts_match_batch(spark, event_stream_dir):
    stream = read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    run_stream_to_memory(hourly_event_counts(stream), "hourly_s")
    got = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("hourly_s").collect()
    }
    batch = (
        _batch_events(spark, event_stream_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("s"),
        )
        .select(F.col("w.start").alias("hs"), "event_type", "n", "s")
        .collect()
    )
    want = {(r["hs"], r["event_type"]): (r["n"], r["s"]) for r in batch}
    assert got == want


def test_sessions_match_batch_query(spark, event_stream_dir):
    # files arrive in arbitrary event-time order, so exact batch parity
    # needs a watermark wide enough that nothing is treated as late
    stream = read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    run_stream_to_memory(
        sessionized_event_counts(stream, watermark="60 days"), "sessions_s"
    )
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.table("sessions_s").collect()
    }
    batch = (
        _batch_events(spark, event_stream_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("ss"), "n")
        .collect()
    )
    want = {(r["user_id"], r["ss"]): r["n"] for r in batch}
    assert got == want


def test_tight_watermark_drops_late_events(spark, event_stream_dir):
    # the flip side of parity: with a tight watermark and time-unordered
    # files, genuinely-late events MUST be dropped (bounded state is the
    # point of the watermark at 100 TB/day)
    stream = read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    run_stream_to_memory(
        sessionized_event_counts(stream, watermark="2 hours"), "sessions_tight"
    )
    n_stream = spark.table("sessions_tight").agg(F.sum("n_events")).collect()[0][0]
    n_total = spark.read.parquet(event_stream_dir).count()
    assert n_stream < n_total  # late rows were dropped, not silently kept


def test_stream_dedup_drops_replayed_ids(spark, tmp_path, event_stream_dir):
    # duplicate every event id by writing the data twice into the dir
    dup_dir = str(tmp_path / "dup")
    src = spark.read.parquet(event_stream_dir)
    src.write.mode("overwrite").parquet(dup_dir)
    src.write.mode("append").parquet(dup_dir)

    stream = read_event_stream(spark, dup_dir)
    run_stream_to_memory(stream_dedup_events(stream), "dedup_s", mode="append")
    n_unique = src.select("event_id").distinct().count()
    got = spark.table("dedup_s").count()
    assert got == n_unique


def test_stateful_running_totals_match_batch(spark, event_stream_dir):
    from pyspark.sql import functions as F

    from cid_etl_spark.streaming.events import running_user_totals

    stream = read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    run_stream_to_memory(
        running_user_totals(stream), "running_totals_s", mode="update"
    )
    # update mode emits one row per (user, micro-batch); the final state
    # is the row with the largest n_events per user
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            """
            SELECT user_id, n_events, total_value FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY n_events DESC) AS rn
              FROM running_totals_s) WHERE rn = 1
            """
        ).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in _batch_events(spark, event_stream_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 6).alias("t"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0], u
        assert abs(got[u][1] - want[u][1]) < 1e-6, u


def test_stream_stream_join_matches_batch(spark, event_stream_dir):
    from cid_etl_spark.streaming.events import purchases_with_recent_click

    stream = read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    # fixture files are NOT time-ordered, so a tight watermark would
    # (correctly) drop cross-batch late rows; a watermark wider than
    # the fixture's 30-day span keeps the multi-batch run lossless for
    # exact batch parity while still exercising join-state plumbing.
    run_stream_to_memory(
        purchases_with_recent_click(stream, watermark="40 days"),
        "ssj_s",
        mode="append",
    )
    got = {
        (r["user_id"], r["purchase_ts"], r["click_ts"])
        for r in spark.table("ssj_s").collect()
    }
    e = _batch_events(spark, event_stream_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("click_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    batch = purchases.join(
        clicks,
        (F.col("cu") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    ).collect()
    want = {(r["user_id"], r["purchase_ts"], r["click_ts"]) for r in batch}
    assert got == want
    assert want  # fixture actually produces joined rows


def test_sliding_counts_match_batch(spark, event_stream_dir):
    from cid_etl_spark.streaming.events import sliding_event_counts

    stream = read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    run_stream_to_memory(sliding_event_counts(stream), "sliding_s")
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["avg_value"])
        for r in spark.table("sliding_s").collect()
    }
    batch = (
        _batch_events(spark, event_stream_dir)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("a"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "a")
        .collect()
    )
    want = {(r["ws"], r["event_type"]): (r["n"], r["a"]) for r in batch}
    assert got == want


def test_stream_static_join_enriches_purchases(spark, event_stream_dir):
    from cid_etl_spark.streaming.events import enriched_purchases

    batch = _batch_events(spark, event_stream_dir)
    user_dim = (
        batch.groupBy("user_id")
        .agg(F.sum("value").alias("lifetime"))
        .select(
            "user_id",
            F.when(F.col("lifetime") > 1000, "gold").otherwise("basic").alias("tier"),
        )
    )
    stream = read_event_stream(spark, event_stream_dir, max_files_per_trigger=2)
    run_stream_to_memory(
        enriched_purchases(stream, user_dim), "enriched_s", mode="append"
    )
    got = spark.table("enriched_s")
    n_purchases = batch.filter(F.col("event_type") == "purchase").count()
    assert got.count() == n_purchases
    assert got.filter(F.col("tier").isin("gold", "basic")).count() == n_purchases


def test_stream_dedup_ingest_admits_only_new_content(spark, tmp_path):
    """Two streamed batches with overlapping content: the second batch's
    duplicates of batch one must be rejected by the parquet catalog,
    and in-batch duplicates keep exactly one survivor."""
    import os

    from pyspark.sql import functions as F

    from cid_etl_spark.sources.parquet import load_table
    from cid_etl_spark.streaming.events import stream_dedup_ingest

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    catalog = str(tmp_path / "catalog")
    admitted = str(tmp_path / "admitted")

    # batch 1: docs 0..39
    b1_dir = str(tmp_path / "in1")
    docs.filter("doc_id < 40").write.parquet(b1_dir)
    stream = spark.readStream.schema(docs.schema).parquet(b1_dir)
    stream_dedup_ingest(
        stream, catalog, admitted, checkpoint_dir=str(tmp_path / "ck1")
    )
    first = spark.read.parquet(admitted)
    n1 = first.count()
    assert n1 > 0
    # one survivor per distinct text
    assert n1 == docs.filter("doc_id < 40").select("text").distinct().count()

    # batch 2: docs 20..59 — 20..39 are catalog duplicates
    b2_dir = str(tmp_path / "in2")
    docs.filter("doc_id >= 20 AND doc_id < 60").write.parquet(b2_dir)
    stream2 = spark.readStream.schema(docs.schema).parquet(b2_dir)
    stream_dedup_ingest(
        stream2, catalog, admitted, checkpoint_dir=str(tmp_path / "ck2")
    )
    after = spark.read.parquet(admitted)
    # every admitted text is unique corpus-wide: no hash appears twice
    dupes = (
        after.groupBy(F.md5("text").alias("h")).count().filter("count > 1").count()
    )
    assert dupes == 0
    # batch 2 contributed only genuinely new content
    new_texts = (
        docs.filter("doc_id >= 40 AND doc_id < 60")
        .select("text")
        .exceptAll(docs.filter("doc_id < 40").select("text"))
        .distinct()
        .count()
    )
    assert after.count() == n1 + new_texts


_PARTITIONS = "spark.sql.shuffle.partitions"
_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager(spark, path):
    """Simple class name of the manager Spark's streaming engine builds
    for *path* under the session's current conf."""
    jvm = spark._jvm
    package = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    factory = getattr(getattr(package, "CheckpointFileManager$"), "MODULE$")
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    return factory.create(jvm.org.apache.hadoop.fs.Path(path), hadoop_conf).getClass().getSimpleName()


def test_stream_run_conf_restores_on_exit_and_exception(spark, tmp_path):
    """The stream-run context pins the state-store fan-out and, for a
    ``file:`` checkpoint only, Spark's FileSystem-based checkpoint
    manager; on exit — normal or by exception — every key is back to
    the caller's value, or unset if the caller had none.  Otherwise one
    failed stream row would silently change every later query in the
    session."""
    from cid_etl_spark.queries import _stream_run_conf

    ckpt = str(tmp_path / "ckpt")
    partitions = spark.conf.get(_PARTITIONS)
    assert spark.conf.get(_MANAGER, None) is None
    assert _checkpoint_manager(spark, ckpt) == "FileContextBasedCheckpointFileManager"

    with _stream_run_conf(spark, ckpt, n=8):
        assert spark.conf.get(_PARTITIONS) == "8"
        assert _checkpoint_manager(spark, ckpt) == "FileSystemBasedCheckpointFileManager"
        assert _checkpoint_manager(spark, f"file://{ckpt}") == "FileSystemBasedCheckpointFileManager"
    assert spark.conf.get(_PARTITIONS) == partitions
    assert spark.conf.get(_MANAGER, None) is None

    with pytest.raises(RuntimeError, match="boom"):
        with _stream_run_conf(spark, ckpt, n=8):
            assert spark.conf.get(_PARTITIONS) == "8"
            raise RuntimeError("boom")
    assert spark.conf.get(_PARTITIONS) == partitions
    assert spark.conf.get(_MANAGER, None) is None

    # a caller's own manager comes back after the run, also on error
    theirs = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    spark.conf.set(_MANAGER, theirs)
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with _stream_run_conf(spark, ckpt):
                assert _checkpoint_manager(spark, ckpt) == "FileSystemBasedCheckpointFileManager"
                raise RuntimeError("boom")
        assert spark.conf.get(_MANAGER) == theirs
    finally:
        spark.conf.unset(_MANAGER)

    # any other scheme keeps Spark's default manager: the key stays
    # untouched (the path is only parsed, no filesystem is created)
    with _stream_run_conf(spark, "hdfs://namenode:8020/streams/ckpt"):
        assert spark.conf.get(_PARTITIONS) == "4"
        assert spark.conf.get(_MANAGER, None) is None
    assert spark.conf.get(_MANAGER, None) is None


def test_stream_restart_admits_each_event_once(spark, tmp_path):
    """Exactly-once across a restart under the FileSystem-based commit
    path: drain a dedup stream over two staged files, add a third that
    repeats some ids, resume from the same checkpoint, and every
    event_id lands in the sink once."""
    from cid_etl_spark.queries import _drain

    events = load_table(spark, SF, "events")
    a = events.filter(F.col("event_id") % 3 == 0)
    b = events.filter(F.col("event_id") % 3 == 1)
    c = events.filter(F.col("event_id") % 3 == 2)
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))

    def commits():
        return sorted(
            n for n in os.listdir(os.path.join(ckpt, "commits")) if not n.startswith(".")
        )

    def stage(df):
        df.coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        admitted = stream_dedup_events(stream, watermark="90 days")
        writer = admitted.writeStream.format("parquet").option("path", sink)
        return _drain(spark, writer.outputMode("append"), ckpt, sink, admitted.schema)

    stage(a.unionAll(b))
    stage(a)
    first = drain()
    assert first.count() == a.count() + b.count()
    assert commits() == ["0", "1"]

    stage(b.unionAll(c))
    got = drain()
    assert commits() == ["0", "1", "2"]
    assert got.groupBy("event_id").count().filter("count > 1").count() == 0
    want = sorted(r[0] for r in events.select("event_id").collect())
    assert sorted(r[0] for r in got.select("event_id").collect()) == want


def test_stream_scratch_root_requires_shared_dir_off_local(spark, tmp_path):
    """VERDICT r4 #4, now for every scratch dir: off local mode the
    resolver demands ``spark.cid_etl.scratchRoot`` and fails loudly
    without it — a driver-local tempdir is listed by the driver but
    unreadable from executors."""
    import hashlib
    import tempfile

    from cid_etl_spark.session import SCRATCH_ROOT_CONF, scratch_dir

    class FakeSC:
        master = "spark://cluster:7077"

    class FakeSpark:
        """A cluster-master session whose conf is *settings*; the JVM
        (for the mkdirs) is the test session's."""

        sparkContext = FakeSC()
        _jvm = spark._jvm
        _jsc = spark._jsc

        def __init__(self, settings):
            self.conf = settings  # dict.get(key, default) == conf.get

    with pytest.raises(RuntimeError, match=SCRATCH_ROOT_CONF):
        scratch_dir(FakeSpark({}), "stream_run", "k")

    # with the setting, the dir lands under the shared root
    shared = str(tmp_path / "shared")
    path = scratch_dir(FakeSpark({SCRATCH_ROOT_CONF: shared}), "stream_run", "k")
    digest = hashlib.md5(b"k").hexdigest()[:8]
    assert path == f"{shared}/cid_etl_stream_run_{digest}"
    assert os.path.isdir(path)

    # local mode falls back to the temp dir
    local = scratch_dir(spark, "stream_run", "k")
    assert local == f"{tempfile.gettempdir()}/cid_etl_stream_run_{digest}"
    assert os.path.isdir(local)


def test_stage_event_stream_shares_staging_not_sink(spark):
    """VERDICT r4 #5: the staged read-only SOURCE dir is shared across
    calls of one session, while sink/checkpoint are fresh per call."""
    from cid_etl_spark.queries import _stage_event_stream

    s1, sink1, ckpt1 = _stage_event_stream(spark, SF)
    s2, sink2, ckpt2 = _stage_event_stream(spark, SF)
    assert s1 == s2
    assert sink1 != sink2 and ckpt1 != ckpt2
    # the dup variant stages separately (twice the rows)
    d1, _, _ = _stage_event_stream(spark, SF, variant="dup")
    assert d1 != s1
    n_plain = spark.read.parquet(s1).count()
    n_dup = spark.read.parquet(d1).count()
    assert n_dup == 2 * n_plain
