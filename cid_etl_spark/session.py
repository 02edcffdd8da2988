"""SparkSession factory with defaults sized for both local testing and
large-cluster execution.

The reference engine is a single-process pandas script
(/root/reference/etl_cid10.py:374-404); here the equivalent "runtime" is a
SparkSession.  Every knob below is chosen for the 100 TB design point and
degrades gracefully on ``local[N]``:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace any hand-tuned plan.
- ``spark.sql.shuffle.partitions`` starts modest; AQE coalesces down
  (local) or the cluster config raises it (prod).  It is a *default*,
  not a constant the code depends on.
- Arrow enabled so the few Pandas-UDF paths (multimodal decode,
  vector ops fallback) move columnar batches, never pickled rows.
- Python workers fork from :mod:`cid_etl_spark.pydaemon`, Spark's own
  daemon minus two per-task fixed costs: the re-read of every zip
  importer's directory (``pyspark.zip``) and a full ``gc.collect()``
  over the pandas/pyarrow heap.  Workers must be able to import this
  package (working directory or ``PYTHONPATH``).

Every file the engine writes for itself (fixture files, stream
staging/sinks/checkpoints, batch fragments) lives under one root,
resolved by :func:`scratch_dir` from one setting,
``spark.cid_etl.scratchRoot``.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import SparkSession

#: Defaults applied by :func:`get_spark`.  Callers (and the driver's own
#: session) may override any of these; no operator in the package relies
#: on a specific value to be *correct* — only to be fast.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # dims in the fixture star schema are tiny; at 100 TB the dims are
    # still ≪ this threshold while facts never qualify
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # timestamps in fixtures are timezone-naive; keep session TZ fixed so
    # date_trunc/window results are reproducible anywhere
    "spark.sql.session.timeZone": "UTC",
    # the events fixture stores NANOS timestamps, which Spark 4 refuses
    # unless read as raw int64 (sources.parquet.load_table converts them
    # exactly); set up front so no load flips the conf mid-session
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ContextCleaner's periodic FORCED full GC stays at the 30min
    # default: a short interval (tried: 1min) fires stop-the-world
    # collections in the middle of whatever query is running — measured
    # as random 3-15s spikes on individual bench queries.  Steady-state
    # hygiene belongs BETWEEN queries (bench.py clears the SQL cache and
    # triggers an explicit System.gc outside every timed window).
    "spark.cleaner.periodicGC.interval": "30min",
    # Spark's daemon plus a zip re-read guard and a frozen pre-fork heap
    "spark.python.daemon.module": "cid_etl_spark.pydaemon",
}


def get_spark(app_name: str = "cid-etl-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the package defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — mirroring how the driver runs
    the test harness.  On a real cluster, leave ``master`` unset and let
    spark-submit supply it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
        if master.startswith("local"):
            # local mode: driver == executor; the 1g default heap OOMs
            # wide joins long before the machine does (only effective
            # when this builder launches the JVM — a cluster's
            # spark-submit sets its own executor/driver sizing)
            builder = builder.config(
                "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
            )
    for k, v in DEFAULT_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: The one setting for where the engine's intermediate data goes.
SCRATCH_ROOT_CONF = "spark.cid_etl.scratchRoot"


def scratch_dir(spark: SparkSession, family: str, key: str) -> str:
    """The scratch directory for *family* and *key*, created if
    missing: ``<root>/cid_etl_<family>_<md5(key)[:8]>``.

    ``<root>`` is the session conf ``spark.cid_etl.scratchRoot`` — a
    directory or URI every executor can reach (shared mount,
    ``hdfs://``, ``s3a://``).  Unset, a ``local[...]`` master uses
    :func:`tempfile.gettempdir` (driver and executors share one
    filesystem there); any other master raises, because a driver-local
    directory is unreadable from the executors.  The directory is made
    through the Hadoop ``FileSystem`` resolved from the path itself —
    the same resolution Spark's readers and writers use — so callers
    delete it through that filesystem too.  No Spark job runs."""
    root = spark.conf.get(SCRATCH_ROOT_CONF, None)
    if not root:
        if not spark.sparkContext.master.startswith("local"):
            raise RuntimeError(
                f"no scratch root off local mode: set {SCRATCH_ROOT_CONF} "
                "to storage every executor can reach (hdfs://..., "
                "s3a://..., or a shared mount)"
            )
        root = tempfile.gettempdir()
    digest = hashlib.md5(key.encode()).hexdigest()[:8]
    path = os.path.join(root, f"cid_etl_{family}_{digest}")
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).mkdirs(jpath):
        raise IOError(f"could not create scratch dir {path}")
    return path
