"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001 as a smoke check;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 (plus north-star extensions) for the driver's DuckDB
differential harness.  The registry itself lives in
:mod:`cid_etl_spark.queries`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cid_etl_spark.queries import oracle_queries, spark_queries

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The composed corpus-curation pipeline: min-length gate → exact
    dedup → language ID → quality threshold → per-language stats, one
    lazy plan — the reference's filter→dedup→enrich→aggregate shape on
    the north-star document workload.
    """
    from cid_etl_spark.queries import corpus_curation_pipeline

    return corpus_curation_pipeline(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / §7."""
    return spark_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twins; keys without an entry get the
    driver's weaker rows-only check (see cid_etl_spark/queries.py §I).

    Every rows-only key maps to a driver-green hash-verified twin —
    the mapping (and the honest scope of what each twin certifies) is
    ``rows_only_verified_by()`` below."""
    return oracle_queries()


def rows_only_verified_by() -> dict[str, str]:
    """rows-only query name -> the oracled twin (driver-green
    rows+schema+hash) that certifies it.  Scope differs by family:
    the minhash/simhash rows run the same dedup pipeline as their twins
    and differ ONLY in the base-hash argument of the one signer
    (pandas siphash vs md5), so the twin certifies the full pipeline; content_fingerprints' winnowing column is a numpy
    rolling-hash Arrow UDF whose algorithm the md5 twin proves in SQL
    and whose implementation is pinned bit-for-bit to a pure-Python
    reference in tests; the four similarity rows (cosine_topk_lsh/ivf,
    embedding_neardup, semantic_dedup_embeddings) are approximate paths
    whose shared machinery is certified by an exact/full-probe twin —
    their pruning recall is test-pinned (tests/test_similarity.py), not
    oracle-verified."""
    from cid_etl_spark.queries import ROWS_ONLY_VERIFIED_BY

    return dict(ROWS_ONLY_VERIFIED_BY)
