"""Unit tests for similarity search: brute-force exactness, LSH recall
sanity, embedding near-dup blocking."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cid_etl_spark.functions.vectors import cosine_similarity, dot
from cid_etl_spark.operators.similarity import (
    SEED,
    _hyperplane,
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_neardup_pairs,
    random_hyperplane_signature,
)
from cid_etl_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_expression(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 0.0])],
        "a array<float>, b array<float>",
    )
    out = [r[0] for r in df.select(cosine_similarity("a", "b")).collect()]
    assert abs(out[0] - 1.0) < 1e-9
    assert abs(out[1]) < 1e-9
    assert abs(out[2] - 1 / math.sqrt(2)) < 1e-9


# The Column-API construction the SQL-text helpers replaced: one Py4J
# call per literal and lambda node.  Kept as the plan oracle.
def _column_api_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _column_api_l2_norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _column_api_cosine(a, b):
    na, nb = _column_api_l2_norm(a), _column_api_l2_norm(b)
    return F.when((na > 0) & (nb > 0), _column_api_dot(a, b) / (na * nb)).otherwise(
        F.lit(0.0)
    )


def _column_api_signature(v, dim, bits, seed):
    sig = F.lit(0)
    for b in range(bits):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, b, seed)])
        sig = sig.bitwiseOR(
            F.when(_column_api_dot(v, plane) >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        )
    return sig


def test_vector_sql_has_column_api_semantics(spark):
    """The SQL-text helpers build the same analyzed plan as the Column
    API, for plain and qualified (``l.__vec``) column names."""
    df = spark.createDataFrame(
        [([1.0, -2.0, 0.5, 3.0], [0.25, 1.0, -1.0, 2.0])],
        "__vec array<float>, q array<float>",
    ).alias("l")
    pairs = [
        (dot("l.__vec", "q"), _column_api_dot(F.col("l.__vec"), F.col("q"))),
        (
            cosine_similarity("l.__vec", "l.q"),
            _column_api_cosine(F.col("l.__vec"), F.col("l.q")),
        ),
        (
            random_hyperplane_signature("l.__vec", dim=4, bits=5),
            _column_api_signature(F.col("l.__vec"), dim=4, bits=5, seed=SEED),
        ),
    ]
    for new, old in pairs:
        got, want = df.select(new.alias("out")), df.select(old.alias("out"))
        assert got.sameSemantics(want)
        assert got.collect() == want.collect()


def test_jl_projection_matches_column_api_rows(spark):
    """The JL projection's one-SQL-text coordinates return the rows of
    the Column-API construction (weight array + zip_with + aggregate)."""
    import hashlib

    from cid_etl_spark.queries.embeddings import jl_projection_embeddings

    def w(i, j):
        return (int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:7], 16) % 2001 - 1000) / 1000.0

    def proj(j):
        weights = F.array(*[F.lit(w(i, j)) for i in range(1, 257)])
        terms = F.zip_with(
            F.col("embedding"),
            F.slice(weights, 1, F.size("embedding")),
            lambda x, wt: x.cast("double") * wt,
        )
        return F.round(F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x), 4).alias(
            f"p{j}"
        )

    emb = load_table(spark, SF_DIR, "embeddings")
    want = sorted(emb.select("vec_id", *[proj(j) for j in range(4)]).collect())
    got = sorted(jl_projection_embeddings(spark, SF_DIR).collect())
    assert len(got) > 0
    assert got == want


def test_bruteforce_topk_finds_self(spark):
    corpus = _vecs(
        spark,
        [(i, [float(i == j) for j in range(8)]) for i in range(8)],
    )
    queries = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk_bruteforce(corpus, queries, k=1).collect()
    assert {(r["query_id"], r["vec_id"]) for r in out} == {(0, 0), (1, 1)}
    assert all(abs(r["cosine"] - 1.0) < 1e-9 for r in out)


def test_lsh_recall_against_bruteforce(spark, duck):
    # real fixture embeddings: LSH top-1 should recover the brute-force
    # top-1 (the vector itself) and mostly recover top-k members
    from cid_etl_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk_bruteforce(emb, queries, k=5).collect()
    approx = cosine_topk_lsh(emb, queries, dim=64, k=5, bits=4).collect()
    exact_top1 = {(r["query_id"], r["vec_id"]) for r in exact if abs(r["cosine"]) >= 0.999}
    approx_pairs = {(r["query_id"], r["vec_id"]) for r in approx}
    # every query must at least find itself through its own bucket
    assert exact_top1 <= approx_pairs
    # and bucket probing must prune the corpus (approx candidates < exact's N)
    assert len(approx_pairs) <= len({(r["query_id"], r["vec_id"]) for r in exact})


def test_lsh_bits_guard_rejects_explosive_mask_enumeration(spark):
    """VERDICT r3 #6: the multiprobe mask list is O(2^bits) driver-side
    — bits>16 must fail fast instead of enumerating 2^24 masks."""
    import pytest as _pytest

    emb = _vecs(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with _pytest.raises(ValueError, match="bits=24"):
        cosine_topk_lsh(emb, queries, dim=2, k=1, bits=24)
    # boundary: 16 bits is allowed (the enumeration is 65536 ints)
    out = cosine_topk_lsh(emb, queries, dim=2, k=1, bits=16)
    assert out.count() >= 2  # each query finds itself via its own bucket


def test_embedding_neardup_finds_duplicated_vector(spark):
    base = [float(i % 7 - 3) for i in range(16)]
    near = list(base)
    near[0] += 0.01
    rows = [(1, base), (2, near), (3, [float(-(i % 5) + 2.0) for i in range(16)])]
    out = embedding_neardup_pairs(
        _vecs(spark, rows), dim=16, threshold=0.99, bits=6
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(1, 2)}


def test_ivf_full_probe_equals_bruteforce(spark):
    from cid_etl_spark.operators.similarity import cosine_topk_ivf
    from cid_etl_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk_bruteforce(emb, queries, k=3).collect()
    full = cosine_topk_ivf(emb, queries, k=3, n_cells=8, nprobe=8).collect()
    key = lambda rows: {(r["query_id"], r["vec_id"]) for r in rows}
    assert key(full) == key(exact)


def test_ivf_partial_probe_recall(spark):
    from cid_etl_spark.operators.similarity import cosine_topk_ivf
    from cid_etl_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk_bruteforce(emb, queries, k=3).collect()}
    approx = {(r["query_id"], r["vec_id"]) for r in cosine_topk_ivf(emb, queries, k=3, n_cells=8, nprobe=3).collect()}
    # each query probes its own cell, so it always finds itself; overall
    # recall with 3/8 cells probed should be well above chance
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_semantic_dedup_exact_rule(spark):
    from cid_etl_spark.operators.similarity import (
        exact_cosine_pairs_blocked,
        semantic_dedup,
        semantic_dedup_exact,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    kept_exact = {
        r["vec_id"]
        for r in semantic_dedup_exact(emb, threshold=0.45).select("vec_id").collect()
    }
    # every dropped id has a lower-id partner at >= threshold
    pairs = exact_cosine_pairs_blocked(emb, threshold=0.45).collect()
    droppable = {r["id_b"] for r in pairs}
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert kept_exact == all_ids - droppable
    assert droppable, "fixture should contain near-dups at 0.45"

    # n_cells=1 degrades to the exact global rule
    kept_one_cell = {
        r["vec_id"]
        for r in semantic_dedup(emb, threshold=0.45, n_cells=1)
        .select("vec_id")
        .collect()
    }
    assert kept_one_cell == kept_exact


def test_semantic_dedup_celled_drops_are_justified(spark):
    from cid_etl_spark.operators.similarity import (
        exact_cosine_pairs_blocked,
        semantic_dedup,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    kept = {
        r["vec_id"]
        for r in semantic_dedup(emb, threshold=0.45, n_cells=8)
        .select("vec_id")
        .collect()
    }
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    dropped = all_ids - kept
    # a celled drop must be justified by a real lower-id near-dup
    justified = {r["id_b"] for r in exact_cosine_pairs_blocked(emb, 0.45).collect()}
    assert dropped <= justified


def test_exact_pairs_distributed_equals_blocked(spark, monkeypatch):
    """The no-collect block-pair form must reproduce the broadcast
    baseline bit-for-bit (ids and rounded cosines), including rows
    hashing into the same block (diagonal groups) and zero-norm
    vectors."""
    from cid_etl_spark.operators import similarity
    from cid_etl_spark.operators.similarity import (
        exact_cosine_pairs_blocked,
        exact_cosine_pairs_distributed,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    ref = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in exact_cosine_pairs_blocked(emb, threshold=0.3).collect()
    }
    for n_blocks in (1, 3, 8):
        monkeypatch.setattr(similarity, "N_BLOCKS", n_blocks)
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in exact_cosine_pairs_distributed(emb, threshold=0.3).collect()
        }
        assert got == ref, f"n_blocks={n_blocks}: {len(got)} vs {len(ref)} pairs"


def test_exact_pairs_distributed_zero_norm(spark, monkeypatch):
    rows = [
        (1, [0.0, 0.0]),  # zero norm: cosine defined as 0 vs anything
        (2, [1.0, 0.0]),
        (3, [1.0, 0.0]),
    ]
    from cid_etl_spark.operators import similarity
    from cid_etl_spark.operators.similarity import exact_cosine_pairs_distributed

    monkeypatch.setattr(similarity, "N_BLOCKS", 2)
    df = _vecs(spark, rows)
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in exact_cosine_pairs_distributed(df, threshold=0.5).collect()
    }
    assert pairs == {(2, 3): 1.0}


def test_lsh_multiprobe_recall_monotone(spark):
    """Probing more buckets can only add candidates: recall vs the
    exact top-k is monotone in the multiprobe radius, and radius==bits
    is exactly brute force."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(emb, qs, k=3).collect()
    }
    last = -1.0
    for h in (0, 1, 4):
        got = {
            (r["query_id"], r["vec_id"])
            for r in cosine_topk_lsh(
                emb, qs, dim=64, k=3, bits=4, multiprobe=h
            ).collect()
        }
        recall = len(got & exact) / len(exact)
        assert recall >= last, f"recall dropped at h={h}"
        last = recall
    assert last == 1.0  # full probe == brute force


def test_pq_empty_sample_raises(spark):
    """ADVICE r4 #3: an id_modulus that samples zero rows must fail
    loudly, not crash with an opaque IndexError downstream."""
    import pytest

    from cid_etl_spark.operators.similarity import pq_sampled_codebooks

    # vec_id 0 matches every modulus — exclude it so the sample is empty
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") > 0)
    with pytest.raises(ValueError, match="codebook sample is empty"):
        pq_sampled_codebooks(emb, id_modulus=10_000_000)


def test_pq_adc_scores_match_numpy_reconstruction(spark):
    """The distributed encode+ADC path must equal a local numpy replay:
    same fixed-point scaling, per-subspace argmin (ties to smaller
    code), LUT gather, top-k (ties to smaller id)."""
    import numpy as np

    from cid_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_sampled_codebooks,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {
        (r["query_id"], r["vec_id"]): r["adc_dot"]
        for r in pq_adc_topk(emb, qs, k=5, lloyd_iters=0).collect()
    }

    pdf = emb.orderBy("vec_id").toPandas()
    ids = pdf["vec_id"].to_numpy()
    iv = np.floor(
        np.array(pdf["embedding"].tolist(), dtype="float64") * 1_000_000 + 0.5
    ).astype("int64")
    books, sub_dim = pq_sampled_codebooks(emb, lloyd_iters=0)
    pts = iv.reshape(len(iv), 8, sub_dim)
    codes = np.empty((len(iv), 8), dtype="int64")
    for m in range(8):
        p, cw = pts[:, m, :], books[:, m, :]
        d = (p * p).sum(1)[:, None] + (cw * cw).sum(1)[None, :] - 2 * (p @ cw.T)
        codes[:, m] = d.argmin(1)
    want = {}
    for qid in (0, 97, 194, 291, 388, 485):
        q = iv[ids == qid][0].reshape(8, sub_dim)
        lut = np.einsum("md,cmd->mc", q, books)  # (M, C)
        s = lut[np.arange(8)[None, :], codes].sum(axis=1)
        order = sorted(zip(-s, ids), key=lambda t: (t[0], t[1]))[:5]
        for neg, vid in order:
            want[(qid, int(vid))] = round(-neg / 1_000_000_000_000, 4)
    assert got == want


def test_pq_lloyd_refinement_reduces_quantization_error(spark):
    """lloyd_iters>0 is the production path: refined codebooks must not
    increase total quantization error vs the raw sampled init."""
    import numpy as np

    from cid_etl_spark.operators.similarity import pq_sampled_codebooks

    emb = load_table(spark, SF_DIR, "embeddings")
    pdf = emb.toPandas()
    iv = np.floor(
        np.array(pdf["embedding"].tolist(), dtype="float64") * 1_000_000 + 0.5
    ).astype("int64")

    def qerr(books, sub_dim):
        pts = iv.reshape(len(iv), 8, sub_dim)
        tot = 0
        for m in range(8):
            p, cw = pts[:, m, :], books[:, m, :]
            d = (
                (p * p).sum(1)[:, None]
                + (cw * cw).sum(1)[None, :]
                - 2 * (p @ cw.T)
            )
            tot += d.min(1).sum()
        return tot

    b0, sd = pq_sampled_codebooks(emb, lloyd_iters=0)
    b3, _ = pq_sampled_codebooks(emb, lloyd_iters=3)
    assert qerr(b3, sd) <= qerr(b0, sd)


def test_exact_pairs_distributed_builds_without_type_hint_warning(spark, monkeypatch):
    """The grouped-map function carries no partial type hints, so
    ``applyInPandas`` takes its grouped-map eval type without trying
    (and failing) to infer one from annotations — no UserWarning."""
    import warnings

    from cid_etl_spark.operators import similarity
    from cid_etl_spark.operators.similarity import exact_cosine_pairs_distributed

    monkeypatch.setattr(similarity, "N_BLOCKS", 2)
    df = _vecs(spark, [(1, [1.0, 0.0]), (2, [1.0, 0.0])])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pairs = exact_cosine_pairs_distributed(df, threshold=0.5)
    noisy = [
        str(w.message) for w in caught
        if issubclass(w.category, UserWarning) and "type hints" in str(w.message)
    ]
    assert not noisy, noisy
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(1, 2)]
