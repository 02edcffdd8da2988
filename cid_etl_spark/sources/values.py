"""Tiny constant tables built in the JVM.

``spark.createDataFrame(<python list>)`` plans ``Scan ExistingRDD``:
its rows are pickled into an RDD, so every action over it starts Python
workers.  The same rows as an inline ``VALUES`` list resolve to a
``LocalRelation`` and execute as a ``LocalTableScan`` on the driver —
no worker, no RDD.  Measured on ``range_join_acctbal_bands`` (4-row
band table, sf0.01, 4 cores): 0.50 → 0.25 s per run, Python worker
CPU 0.87 → 0 s."""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def _sql_literal(v: object) -> str:
    """Spark SQL literal for a Python str, int or float; the exact type
    comes from the CAST in :func:`values_table`."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, float):
        # repr round-trips the double, NaN and infinities included
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def values_table(
    spark: SparkSession, rows: Iterable[Sequence[object]], schema: str
) -> DataFrame:
    """The constant table *rows* with the DDL *schema*
    (``"band string, lo double"``) as an inline ``VALUES`` list:
    planned as a ``LocalTableScan``, so no Python worker runs for it.
    Each column is cast to its schema type; *rows* must be non-empty."""
    fields: StructType = _parse_datatype_string(schema)
    tuples = ", ".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows
    )
    cols = ", ".join(
        f"CAST(col{i} AS {f.dataType.simpleString()}) AS `{f.name}`"
        for i, f in enumerate(fields.fields, 1)
    )
    return spark.sql(f"SELECT {cols} FROM VALUES {tuples}")
