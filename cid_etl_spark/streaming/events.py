"""Structured Streaming over the events table.

The reference is batch-only (SURVEY §2.10); this module is the
incremental path a 100 TB event pipeline needs.  Design:

- The SAME aggregation expressions as the batch queries
  (queries.window_hourly_events / sessionize_events) — batch/stream
  parity is a test, not a hope.
- Event-time everywhere: windows key on the data's ``ts``, never
  arrival time; watermarks bound state so the job runs forever on
  bounded memory.
- File source here (parquet dirs are what the fixtures give us); in
  production the readStream source string changes (kafka), nothing
  else does.

State-size discipline at scale: every stateful operator below carries
a watermark; without one, Spark must keep every window/key forever —
fine at sf0.001, an OOM at 100 TB/day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Schema of the events fixture after ns→µs normalization
#: (sources/parquet.py); declared explicitly because readStream
#: requires a schema up front (no inference mid-stream).
EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream with an explicit schema.

    *path* is a directory of parquet files written with µs timestamps
    (see tests — the raw fixture's ns timestamps are normalized on the
    batch side first; a production stream source emits µs natively).
    """
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def hourly_event_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour event-time windows with late-data tolerance.

    Mirrors queries.window_hourly_events column-for-column so the
    batch run is the oracle for the streaming run.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value"
        )
    )


def sessionized_event_counts(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (inactivity gap) per user — the streaming twin
    of queries.sessionize_events."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )


def stream_dedup_events(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event IDs within the watermark horizon:
    ``dropDuplicatesWithinWatermark`` keeps only as much state as the
    watermark requires (vs. dropDuplicates' unbounded key set)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_stream_to_memory(
    result: DataFrame, table_name: str, mode: str = "complete"
) -> None:
    """Drain a bounded stream fully (availableNow) into an in-memory
    sink — the test/verification harness for the operators above."""
    (
        result.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def running_user_totals(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-user
    running event count + value total, updated every micro-batch.

    This is the escape hatch for stateful logic Spark's built-in
    windows can't express (per-key accumulators, custom session logic,
    online model state).  State is one small tuple per user — Arrow
    moves batches in, the update emits one row per user per batch, and
    the watermark bounds how long idle keys stay resident.  At 100 TB/
    day the state store only holds |active users| tuples, not events.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, round(total, 6)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def purchases_with_recent_click(
    stream: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase paired with the same
    user's clicks in the preceding *horizon*.

    Both sides carry watermarks AND the join condition bounds event
    time on both inputs — that pair is what lets Spark expire join
    state: a click older than ``purchase_ts - horizon`` (modulo
    watermark slack) can never match again and is evicted.  Without
    the time bound the state store grows with the full click history.
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), "value")
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    ).select("user_id", "purchase_ts", "click_ts", "value")


def stream_upsert_to_parquet(
    result: DataFrame,
    target_dir: str,
    partition_col: str = "day",
    checkpoint_dir: str | None = None,
) -> None:
    """``foreachBatch`` idempotent sink: land a streaming aggregate into
    a hive-partitioned parquet table with partition-overwrite upserts.

    Each micro-batch dynamically overwrites ONLY the partitions it
    touches (``partitionOverwriteMode=dynamic``), so replaying a batch
    after failure rewrites the same partitions with the same content —
    the classic exactly-once-by-idempotence recipe when the target has
    no transactional MERGE.  Combined with the checkpoint (which makes
    the batch sequence deterministic), end-to-end semantics are
    effectively exactly-once; at 100 TB the unit of rewrite stays one
    partition, never the table.

    The aggregate streams in ``complete`` mode: partition overwrite is
    only idempotent when a batch carries EVERY row of each partition it
    touches — ``update`` mode would drop the partition's unchanged
    groups.  (With a MERGE-capable target, ``update`` + per-key upsert
    is the lower-write-amplification variant.)

    The reference's only sink is a single CSV overwrite
    (etl_cid10.py:196,370) — this is its streaming-era counterpart.
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        (
            batch_df.write.mode("overwrite")
            # scoped to THIS writer, as in stream_dedup_ingest
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(target_dir)
        )

    writer = (
        result.writeStream.foreachBatch(upsert)
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.start().awaitTermination()


def sliding_event_counts(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """SLIDING windows on the stream (2h length, 1h hop): identical
    expression to the batch twin (queries.window_sliding_events), so a
    row lands in exactly two windows; the watermark closes a window
    once event time passes its end + slack, bounding state to
    (overlap factor × open windows × keys) aggregates."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "avg_value")
    )


def enriched_purchases(stream: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-STATIC join: enrich streaming purchases with a batch
    dimension (per-user lifetime tier).  The static side is planned
    per micro-batch — broadcast when small, so the stream is never
    shuffled; no watermark is required because a static side holds no
    state (contrast purchases_with_recent_click)."""
    return (
        stream.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(user_dim), "user_id", "left")
        .select(
            "event_id", "user_id", "ts", "value",
            F.coalesce("tier", F.lit("unknown")).alias("tier"),
        )
    )


def stream_dedup_ingest(
    incoming: DataFrame,
    catalog_dir: str,
    admitted_dir: str,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
):
    """Streaming admission control for a training-data lake: each
    micro-batch of documents is admitted only where its content hash
    misses BOTH the persistent corpus catalog and the batch's own
    earlier duplicates, then the catalog is extended — the streaming
    twin of queries.incremental_dedup_ingest.

    ``foreachBatch`` is the right tool (not a stream-stream join): the
    catalog is a growing *batch* table, re-read per micro-batch so
    admissions in batch N are rejected as duplicates in batch N+1
    without any watermark/state-store bound on the dedup horizon —
    state lives in parquet, not executor memory, so the horizon is
    unbounded at 100 TB.  Within a batch, a keep-min-id window picks
    one survivor per hash (batches can carry internal dups).  The
    write order (admitted first, then catalog append) makes replays
    safe: a re-run batch re-admits the same rows idempotently via
    dynamic partition overwrite on (run token, batch id) — the token is
    derived from the CHECKPOINT LOCATION, so a restart of the same
    query (same checkpoint) replays into the very partition its failed
    attempt wrote, while a new ingest query (new checkpoint) appends
    fresh partitions.  (A uuid-per-call token would break exactly the
    crash-replay case the partitioning exists for: the replayed batch
    would land in a fresh partition next to the orphan.)
    """
    import hashlib

    token_src = checkpoint_dir if checkpoint_dir else f"{catalog_dir}|{admitted_dir}"
    run_token = hashlib.md5(token_src.encode()).hexdigest()[:12]

    from pyspark.sql.window import Window as W

    def _catalog_exists(spark: SparkSession, path: str) -> bool:
        # Probe through the Hadoop FileSystem API so s3://, hdfs:// and
        # local paths all behave; a driver-side os.walk only sees the
        # local filesystem.
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(conf)
        if not fs.exists(hpath):
            return False
        for status in fs.listStatus(hpath):
            name = status.getPath().getName()
            if name.endswith(".parquet") or name.startswith("part-"):
                return True
        return False

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        spark = batch_df.sparkSession
        hashed = batch_df.withColumn("__h", F.md5(F.col(text_col)))
        w = W.partitionBy("__h").orderBy("doc_id")
        hashed = (
            hashed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if _catalog_exists(spark, catalog_dir):
            catalog = spark.read.parquet(catalog_dir).select("__h").distinct()
            hashed = hashed.join(catalog, "__h", "left_anti")
        admitted = hashed.persist()
        (
            admitted.withColumn("__batch", F.lit(f"{run_token}-{batch_id}"))
            .write.mode("overwrite")
            # scoped to THIS writer — session-level conf would silently
            # flip every later overwrite in the session to dynamic mode
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch")
            .parquet(admitted_dir)
        )
        admitted.select("__h").write.mode("append").parquet(catalog_dir)
        admitted.unpersist()

    writer = (
        incoming.writeStream.foreachBatch(admit)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.start().awaitTermination()
