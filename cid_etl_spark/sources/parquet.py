"""Parquet fixture loaders.

Parquet is the engine's at-rest format (columnar, statistics, predicate
pushdown, partition pruning — everything the reference's CSV-only model
lacks).  The fixture star schema lives at ``/root/testdata/sf*/`` (see
TESTDATA.md); these helpers are thin on purpose: ``spark.read.parquet``
already gives column pruning + filter pushdown, and keeping the scan
declarative is what lets Catalyst prune at 100 TB.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: The ten fixture tables generated by the driver (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Tables whose scans are rebalanced when the file layout yields fewer
#: splits than cores (see :func:`_spread`).  Tiny dims stay put — they
#: broadcast anyway and a 5-row shuffle is pure overhead.
_SPREAD_TABLES: frozenset[str] = frozenset(
    {"orders", "lineitem", "events", "documents", "embeddings"}
)


#: The one conf :func:`load_table` sets that changes the inferred
#: schema (NANOS timestamps come back as BIGINT under it).
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@dataclass(frozen=True)
class _Footprint:
    """What a parquet path looks like to the scan, for one file
    identity: the estimated split count and the schema Spark inferred
    the first time.  *identity* is every file's (name, size,
    ``mtime_ns``) plus the confs the two values depend on, so a file
    rewritten at the same path gets a fresh record."""

    identity: tuple
    splits: int
    schema: StructType


#: path -> footprint of the file(s) last seen there.
_FOOTPRINTS: dict[str, _Footprint] = {}


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    m = re.fullmatch(r"(\d+)([kmg]?)b?", raw.strip().lower())
    return int(m.group(1)) * units.get(m.group(2), 1) if m else 128 << 20


def _data_files(path: str) -> list[str]:
    """The parquet file(s) at *path*: the file itself, or a directory's
    ``*.parquet`` files."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def _estimated_splits(files: list[str], max_bytes: int) -> int:
    """Estimate how many tasks a parquet scan will produce, WITHOUT a
    JVM round-trip (``df.rdd.getNumPartitions()`` forces plan
    conversion — ~0.1-0.3 s per call, pure overhead in a query loop).
    Spark splits parquet by ``files.maxPartitionBytes`` but cannot cut
    inside a row group, so splits ≈ min(row groups, ceil(bytes/max)).
    """
    try:
        import pyarrow.parquet as pq

        splits = 0
        for f in files:
            n_groups = pq.ParquetFile(f).metadata.num_row_groups
            by_size = -(-os.path.getsize(f) // max_bytes)
            splits += max(1, min(n_groups, by_size))
        return splits
    except Exception:
        return 1  # unknown layout: assume degenerate, spread


def _scan(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """Scan *path* and estimate its splits, inferring the schema once
    per file identity per process.  Inference is a Spark job (the
    parquet footer read); a repeat scan passes the cached schema to
    ``spark.read.schema`` and fires none.  A path whose files cannot be
    stat'ed (missing, or not on the local file system) is scanned
    plainly — Spark raises or infers as usual."""
    try:
        files = _data_files(path)
        stats = tuple(
            (f, st.st_size, st.st_mtime_ns) for f in files for st in [os.stat(f)]
        )
    except OSError:
        return spark.read.parquet(path), 1
    max_bytes = _max_partition_bytes(spark)
    identity = (stats, spark.conf.get(_NANOS_AS_LONG, "false"), max_bytes)
    fp = _FOOTPRINTS.get(path)
    if fp is not None and fp.identity == identity:
        return spark.read.schema(fp.schema).parquet(path), fp.splits
    df = spark.read.parquet(path)
    fp = _Footprint(identity, _estimated_splits(files, max_bytes), df.schema)
    _FOOTPRINTS[path] = fp
    return df, fp.splits


def _spread(spark: SparkSession, df: DataFrame, splits: int) -> DataFrame:
    """Rebalance a degenerate scan across the session's cores.

    The fixture parquet files are written as a SINGLE row group, so the
    scan produces one task regardless of ``files.maxPartitionBytes`` —
    every downstream narrow stage (shingling, hashing, JSON parsing)
    would run on one core.  A production lake at 100 TB has thousands
    of row groups/files and this becomes a no-op (``splits >=
    parallelism``); locally it is one small round-robin exchange that
    buys full CPU utilization, exactly what a cluster scan gives for
    free.
    """
    target = spark.sparkContext.defaultParallelism
    if splits < target:
        return df.repartition(target)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | None = None
) -> DataFrame:
    """Scan one fixture table lazily.  No data caching — parquet
    carries its schema, inferred once per file per process (see
    :func:`_scan`).

    ``events.ts`` is a nanosecond parquet timestamp, which Spark 4
    rejects by default (PARQUET_TYPE_ILLEGAL); we read it as raw int64
    nanos (legacy conf — in ``session.DEFAULT_CONF``, and set here only
    for a session that does not already read it as ``true``) and
    convert with exact integer division — ns
    values ≈1.7e18 exceed double's 2^53 mantissa, so float math would
    corrupt timestamps.

    *spread* rebalances single-split scans (see :func:`_spread`);
    default: on for fact-sized tables, off for dims.
    """
    # Batch-scoped bucketed-fact substitution (round 9): when the
    # calling thread runs inside a ``run_batch`` whose declaration
    # bucketed this table on a join key, scan the bucketed copy — its
    # HashPartitioning(key) output lets joins and aggregations on the
    # key skip their Exchange entirely.  Values are identical (same
    # rows, different layout); standalone queries never see this
    # (no thread context) and the copy is NOT spread (a repartition
    # would destroy the bucket partitioning the copy exists for).
    from cid_etl_spark.plans.fragments import current_context

    ctx = current_context()
    if ctx is not None and ctx.sf_dir == sf_dir:
        bucketed = ctx.bucketed_tables.get(name)
        if bucketed is not None:
            return spark.table(bucketed)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if spread is None:
        spread = name in _SPREAD_TABLES
    if name == "events" and spark.conf.get(_NANOS_AS_LONG, "false") != "true":
        # a session not built by get_spark (DEFAULT_CONF sets it)
        spark.conf.set(_NANOS_AS_LONG, "true")
    df, splits = _scan(spark, path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return _spread(spark, df, splits) if spread else df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Scan several fixture tables; defaults to all of :data:`TABLES`."""
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}
