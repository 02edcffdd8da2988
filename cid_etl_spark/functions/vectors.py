"""Vector (embedding) column expressions.

Embeddings are plain ``array<float>`` columns (FIXTURES.md B:
``embeddings.embedding``).  All math here is native array expressions —
``zip_with`` + ``aggregate`` loops over the array, no Python, no UDF
serialization.  Spark evaluates these higher-order functions on the
interpreted path (``ZipWith`` and ``ArrayAggregate`` are
``CodegenFallback`` in Spark 4.1), so each element costs a virtual
call per lambda node; at 100 TB the join structure around these
expressions still dominates.

The helpers take column NAMES (dotted qualifiers as in ``F.col``, e.g.
``"l.__vec"``) and render the whole expression as ONE SQL text behind
one ``F.expr``: building it costs one Py4J call however long the
vector, where the Column API sends one per literal and lambda node.
The ``*_sql`` renderers compose for callers that inline constant
vectors (:func:`array_sql`) into a larger expression.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def col_sql(name: str) -> str:
    """A column name as SQL text, each dotted part backquoted."""
    return ".".join(f"`{part.replace('`', '``')}`" for part in name.split("."))


def array_sql(values: Iterable[int | float]) -> str:
    """A constant vector as one SQL array literal.  Floats are written
    as ``repr(x)`` plus the ``D`` suffix — a bare ``0.5`` is a DECIMAL
    in Spark SQL — so each element is the same double literal
    ``F.lit(x)`` makes; ints stay INT/BIGINT literals."""
    return "array(" + ", ".join(
        f"{v!r}D" if isinstance(v, float) else str(v) for v in values
    ) + ")"


def dot_sql(a: str, b: str) -> str:
    """Dot product of two equal-length float array SQL expressions."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def l2_norm_sql(a: str) -> str:
    """Euclidean norm of a float array SQL expression."""
    return (
        f"sqrt(aggregate({a}, 0.0D, "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def dot(a: str, b: str) -> Column:
    """Dot product of two equal-length float array columns (double)."""
    return F.expr(dot_sql(col_sql(a), col_sql(b)))


def cosine_similarity(a: str, b: str) -> Column:
    """Cosine similarity; NULL-safe, 0.0 when either norm is zero."""
    a, b = col_sql(a), col_sql(b)
    na, nb = l2_norm_sql(a), l2_norm_sql(b)
    return F.expr(
        f"CASE WHEN ({na} > 0) AND ({nb} > 0) "
        f"THEN {dot_sql(a, b)} / ({na} * {nb}) ELSE 0.0D END"
    )
