"""The embedding family's shared pieces: the Spark rows and their DuckDB
twins agree on all-zero vectors (Spark's cosine is 0.0 there, DuckDB's
``list_cosine_similarity`` is -1.0 unless guarded), and the one per-key
top-k, ``operators.dedup.priority_dedup``."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cid_etl_spark.operators.dedup import priority_dedup
from cid_etl_spark.queries import oracle_queries, spark_queries
from tools.driver_check import _normalize, _values_equal

DIM = 64


def _write_embeddings(path) -> None:
    """40 random 64-dim vectors with two all-zero ones — vec_id 2 in
    the top-k query set (vec_id < 5), vec_id 20 outside it — and two
    near-duplicates of vec_id 3, so the exact pair list is not empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, DIM)).astype("float32")
    vecs[2] = 0.0
    vecs[20] = 0.0
    vecs[7] = vecs[3] + 0.05 * rng.normal(size=DIM).astype("float32")
    vecs[30] = vecs[3] + 0.05 * rng.normal(size=DIM).astype("float32")
    table = pa.table(
        {
            "vec_id": pa.array(range(40), pa.int64()),
            "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
            "label": pa.array([i % 4 for i in range(40)], pa.int32()),
        }
    )
    pq.write_table(table, path / "embeddings.parquet")


@pytest.mark.parametrize(
    "name",
    ["cosine_topk_bruteforce", "cosine_topk_lsh_probeall", "embedding_neardup_exact"],
)
def test_zero_vectors_match_the_duckdb_twin(spark, tmp_path, name):
    _write_embeddings(tmp_path)
    got = spark_queries()[name](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    want = con.execute(oracle_queries()[name]).fetchdf()
    con.close()
    assert len(got) > 0
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want)
    if name != "embedding_neardup_exact":
        # the zero query vector's neighbors are scored 0.0, not -1.0
        assert set(got.loc[got["query_id"] == 2, "cosine"]) == {0.0}
    g, w = _normalize(got), _normalize(want)
    for col in g.columns:
        for x, y in zip(g[col].tolist(), w[col].tolist()):
            assert _values_equal(x, y), (col, x, y)


def _ranked_rows():
    # (key, score, id): NULL keys, ties on score broken by id
    return [
        (None, 5, 1), (None, 5, 2), (None, 4, 3), (None, 9, 4),
        ("a", 1, 5), ("a", 1, 6), ("a", 1, 7), ("a", 1, 8), ("a", 2, 9),
        ("b", 3, 10),
    ]


def test_priority_dedup_keeps_first_k_per_key(spark):
    rows = _ranked_rows()
    df = spark.createDataFrame(rows, "key string, score int, id int")
    got = priority_dedup(df, "key", [F.desc("score"), F.asc("id")], k=3)
    want = []
    for key in {r[0] for r in rows}:
        group = sorted((r for r in rows if r[0] == key), key=lambda r: (-r[1], r[2]))
        want += group[:3]
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(want, key=repr)
    # NULL keys are one group: its top 3 by score, tie 5/5 to the smaller id
    assert sorted(r.id for r in got.collect() if r.key is None) == [1, 2, 4]


def test_priority_dedup_k1_is_the_single_survivor_rule(spark):
    df = spark.createDataFrame(_ranked_rows(), "key string, score int, id int")
    order = [F.desc("score"), F.asc("id")]
    w = Window.partitionBy("key").orderBy(*order)
    old = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    got = pd.DataFrame(priority_dedup(df, "key", order).collect(), columns=df.columns)
    want = pd.DataFrame(old.collect(), columns=df.columns)
    assert got.sort_values("id").values.tolist() == want.sort_values("id").values.tolist()
    assert sorted(got["id"]) == [4, 9, 10]
