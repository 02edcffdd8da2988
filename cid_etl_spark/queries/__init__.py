"""Named engine queries with DuckDB oracle twins (package facade).

Split by domain from the former single-module registry (VERDICT r4 #8)
— the registration decorator and ordering machinery live in
:mod:`._registry`; the domain modules below register themselves on
import, in the exact order of the original file so the registry's
insertion order (and with it the driver's verification window) is
unchanged.  ``from cid_etl_spark.queries import X`` keeps working for
every module-level name (queries, SQL constants, helpers): all domain
namespaces are re-exported here.

Conventions that make the driver's order-insensitive value-hash
comparison stable:

- every computed column is aliased IDENTICALLY in Spark and SQL;
- money aggregates go through exact DECIMAL arithmetic, then one final
  ``round(..., 2)::double`` (operators.aggregates.decimal_sum/money) —
  double SUM order is non-associative, decimal SUM is exact;
- averages are ``round(decimal_sum::double / count, 6)``;
- ranking always carries a unique tiebreak column, and anything ranked
  on a float is rounded FIRST in both engines.

Queries without an oracle entry (minhash/simhash/embedding near-dup)
use hash functions DuckDB lacks; the driver records a rows-only check
for them (the math itself is covered by unit tests in tests/).
"""

from __future__ import annotations

from cid_etl_spark.queries._registry import (  # noqa: F401
    _ORACLE,
    _SPARK,
    _DRIVER_WINDOW_PRIORITY,
    _ordered_names,
    _register,
    QueryFn,
    ROWS_ONLY_VERIFIED_BY,
    oracle_queries,
    spark_queries,
)

# Import order == registration order: the original module's layout,
# then the co-purchase graph family gathered from four of them, then
# the embedding family gathered from eight.
from cid_etl_spark.queries import core as _core  # noqa: E402
from cid_etl_spark.queries import stats as _stats  # noqa: E402
from cid_etl_spark.queries import tpch as _tpch  # noqa: E402
from cid_etl_spark.queries import roundtrips as _roundtrips  # noqa: E402
from cid_etl_spark.queries import tpch_more as _tpch_more  # noqa: E402
from cid_etl_spark.queries import training as _training  # noqa: E402
from cid_etl_spark.queries import curation as _curation  # noqa: E402
from cid_etl_spark.queries import streaming_oracle as _streaming_oracle  # noqa: E402
from cid_etl_spark.queries import round5 as _round5  # noqa: E402
from cid_etl_spark.queries import round11 as _round11  # noqa: E402
from cid_etl_spark.queries import round12 as _round12  # noqa: E402
from cid_etl_spark.queries import graph as _graph  # noqa: E402
from cid_etl_spark.queries import embeddings as _embeddings  # noqa: E402

# Re-export every module-level name so the package namespace is a
# drop-in for the former flat module (tests and tools import query
# functions, SQL constants and helpers directly).  setdefault: facade
# names defined above win; the domain modules define disjoint names
# (tests/test_registry.py), so no domain module shadows another.
for _m in (
    _core,
    _stats,
    _tpch,
    _roundtrips,
    _tpch_more,
    _training,
    _curation,
    _streaming_oracle,
    _round5,
    _round11,
    _round12,
    _graph,
    _embeddings,
):
    for _k, _v in vars(_m).items():
        if not _k.startswith("__"):
            globals().setdefault(_k, _v)
del _m, _k, _v
