"""Unit tests for dedup operators: survivor determinism (the A3 trap,
SURVEY §4.2.1) and the near-dup family on planted duplicates."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from cid_etl_spark.operators.dedup import (
    _gram_hashes_exploded,
    _hash_params,
    _word_grams,
    exact_dedup,
    jaccard_similarity,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signature_table_arrow,
    priority_dedup,
    shingles,
    simhash_dedup_pairs,
    simhash_table_arrow,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster and aggregates results"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-word edit → high jaccard
FAR = "completely different content about databases and query optimizers only"


def test_priority_dedup_survivor(spark):
    df = spark.createDataFrame(
        [
            ("A01", "DATASUS", "x"),
            ("A01", "Estruturada", "y"),
            ("B02", "DATASUS", "z"),
        ],
        "code string, fonte string, payload string",
    )
    prio = F.when(F.col("fonte") == "Estruturada", 0).otherwise(1)
    out = priority_dedup(df, "code", [prio.asc(), F.col("payload").asc()])
    rows = {r["code"]: r["fonte"] for r in out.collect()}
    assert rows == {"A01": "Estruturada", "B02": "DATASUS"}


def test_priority_dedup_is_deterministic_on_ties(spark):
    df = spark.createDataFrame(
        [("k", i, f"p{i}") for i in range(20)], "code string, n int, payload string"
    )
    picks = {
        tuple(
            priority_dedup(
                df.repartition(p), "code", [F.col("n").asc(), F.col("payload").asc()]
            ).collect()[0]
        )
        for p in (1, 3, 7)
    }
    assert len(picks) == 1  # same survivor regardless of partitioning


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "id long, text string"
    )
    out = exact_dedup(df, "text", tiebreak=[F.col("id").asc()])
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_jaccard_on_shingles(spark):
    df = spark.createDataFrame([(BASE, NEAR), (BASE, FAR)], "a string, b string")
    out = df.select(
        jaccard_similarity(shingles("a", 3), shingles("b", 3)).alias("j")
    ).collect()
    assert out[0]["j"] > 0.5
    assert out[1]["j"] < 0.1


def test_minhash_finds_planted_near_dup(spark):
    rows = [(1, BASE), (2, NEAR), (3, FAR), (4, "tiny"), (5, BASE + " extra token")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_dedup_pairs(
        df, "doc_id", "text", shingle_n=3, num_hashes=32, num_bands=16, threshold=0.4
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(3 not in p for p in found)


def test_simhash_finds_planted_near_dup(spark):
    rows = [(1, BASE), (2, NEAR), (3, FAR)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_dedup_pairs(df, "doc_id", "text", max_hamming=10, n=2).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found


def test_lsh_hot_bucket_guard_drops_degenerate_bucket(spark):
    """10k docs sharing band 0's bucket (a boilerplate family) must NOT
    produce the ~50M quadratic pair explosion: the guard drops the hot
    bucket, and the remaining (unique-per-doc) bands pair nothing."""
    n = 10_000
    # signature: band 0 slice identical for ALL docs; bands 1-3 unique
    sig = [
        F.lit(7).cast("long"), F.lit(7).cast("long"),
        F.col("id"), -F.col("id"),
        F.col("id") * 2, -F.col("id") * 2,
        F.col("id") * 3, -F.col("id") * 3,
    ]
    df = spark.range(n).select(
        F.col("id").alias("__id"), *[c.alias(f"mh_{i}") for i, c in enumerate(sig)]
    )
    pairs = lsh_candidate_pairs(df, num_bands=4, max_bucket_size=100)
    assert pairs.count() == 0


def test_lsh_guard_keeps_small_buckets_and_none_disables(spark):
    # 30 docs all sharing every band: under the cap, all pairs emitted
    df = spark.range(30).select(
        F.col("id").alias("__id"),
        *[F.lit(v).cast("long").alias(f"mh_{v - 1}") for v in (1, 2, 3, 4)],
    )
    capped = lsh_candidate_pairs(df, num_bands=2, max_bucket_size=100)
    uncapped = lsh_candidate_pairs(df, num_bands=2, max_bucket_size=None)
    assert capped.count() == 30 * 29 // 2 == uncapped.count()
    # cap below the bucket size: everything dropped, loudly (log), not an error
    dropped = lsh_candidate_pairs(df, num_bands=2, max_bucket_size=10)
    assert dropped.count() == 0


# Edge cases of Spark's shingles(): NULL (-> [""]), empty, blank, a tab
# that trim() keeps (leading empty token), CRLF, double spaces, fewer
# than n tokens, repeated grams, non-ASCII.
GRAM_EDGE_TEXTS = [
    None,
    "",
    "   ",
    "\tlead tab and more words here",
    "one two\r\nthree four five",
    "double  spaced  words  in  here",
    "two words",
    "a b a b a b a b",
    "Ünïcödé STRASSE straße ΣΊΣΥΦΟΣ 東京 タワー naïve café",
    BASE,
]


def _edge_frame(spark):
    return spark.createDataFrame(
        list(enumerate(GRAM_EDGE_TEXTS)), "doc_id long, text string"
    )


def test_python_word_grams_match_spark_shingles(spark):
    df = _edge_frame(spark)
    for n in (1, 3, 5):
        rows = df.select(
            "doc_id",
            F.lower(F.trim("text")).alias("t"),
            shingles("text", n).alias("sh"),
        ).collect()
        for r in rows:
            assert _word_grams(r["t"], n) == list(r["sh"]), (n, r["doc_id"])
    assert _word_grams(None, 3) == [""]


def test_batched_gram_hashes_match_per_text_loop():
    """The one-call batch kernel equals the per-text loop it replaced:
    hash each text's grams, ``np.unique`` them, concatenate."""
    import numpy as np
    import pandas as pd

    def per_text(texts, n):
        parts, lens = [], np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if not isinstance(t, str):
                continue
            grams = _word_grams(t.lower().strip(" "), n)
            h = np.unique(pd.util.hash_array(np.asarray(grams, dtype=object)))
            parts.append(h)
            lens[i] = len(h)
        flat = np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64)
        return flat, lens

    batches = [
        GRAM_EDGE_TEXTS,
        GRAM_EDGE_TEXTS[::-1] + GRAM_EDGE_TEXTS,
        [None, None],
        [],
        ["  lead and trail  ", "x"],
    ]
    for texts in batches:
        for n in (1, 3, 5):
            flat, lens = _gram_hashes_exploded(texts, n)
            want_flat, want_lens = per_text(texts, n)
            assert flat.dtype == np.uint64 and lens.dtype == np.int64
            assert np.array_equal(flat, want_flat), (n, texts)
            assert np.array_equal(lens, want_lens), (n, texts)


def _md5_prefix(g: str, digits: int) -> int:
    return int(hashlib.md5(g.encode("utf-8")).hexdigest()[:digits], 16)


def _spark_grams(spark, n):
    return {
        r["doc_id"]: list(r["sh"])
        for r in _edge_frame(spark)
        .select("doc_id", shingles("text", n).alias("sh"))
        .collect()
    }


def test_md5_minhash_signer_matches_python_reference(spark):
    k, n = 8, 3
    params = _hash_params(k, 42)
    m = (1 << 31) - 1
    want = {
        i: [min((a * _md5_prefix(g, 7) + b) % m for g in grams) for a, b in params]
        for i, grams in _spark_grams(spark, n).items()
    }
    signed = minhash_signature_table_arrow(
        _edge_frame(spark), "doc_id", "text", shingle_n=n, num_hashes=k,
        base_hash="md5",
    ).collect()
    got = {r["__id"]: [r[f"mh_{j}"] for j in range(k)] for r in signed}
    assert got == want


def test_md5_simhash_signer_matches_python_reference(spark):
    bits, n = 60, 3
    want = {}
    for i, grams in _spark_grams(spark, n).items():
        hs = [_md5_prefix(g, 15) for g in grams]
        want[i] = sum(
            1 << j for j in range(bits) if 2 * sum((h >> j) & 1 for h in hs) > len(hs)
        )
    fps = simhash_table_arrow(
        _edge_frame(spark), "doc_id", "text", n=n, bits=bits, base_hash="md5"
    ).collect()
    assert {r["__id"]: r["__fp"] for r in fps} == want


def test_signers_reject_unknown_base_hash(spark):
    df = _edge_frame(spark)
    with pytest.raises(ValueError):
        minhash_signature_table_arrow(df, "doc_id", "text", base_hash="xxhash64")
    with pytest.raises(ValueError):
        simhash_table_arrow(df, "doc_id", "text", bits=64, base_hash="md5")
