"""Similarity search over embedding columns (north-star extension).

Two tiers, as a real 100 TB pipeline would run them:

- **Brute-force cosine top-k** — the exact baseline: broadcast the
  (small) query set against the corpus, one pass per corpus
  partition, per-query top-k via window.  Cost O(|Q|·N); right answer,
  embarrassingly parallel, no corpus shuffle.
- **LSH-bucketed ANN** — random-hyperplane signatures bucket the corpus
  once (a cheap narrow transform); queries probe only their bucket(s).
  Cost per query drops to O(N / 2^bits · |Q|); recall is tunable via
  signature bits and multi-probe.  This is the scale path: the corpus
  is hashed/partitioned ONCE and reused across query batches.

Hyperplanes are derived deterministically from a seed (hash-based, no
RNG state), so results are reproducible and testable.

Every operator reads the fixtures' column layout: a corpus of
``(vec_id, embedding)`` rows and a query set of ``(query_id,
query_vec)`` rows.  Values no caller varies are module constants.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cid_etl_spark.functions.vectors import (
    array_sql,
    col_sql,
    cosine_similarity,
    dot_sql,
)
from cid_etl_spark.operators.dedup import priority_dedup

ID_COL = "vec_id"
VEC_COL = "embedding"
LABEL_COL = "label"
QUERY_ID_COL = "query_id"
QUERY_VEC_COL = "query_vec"
#: Seed of the LSH hyperplanes and of the IVF k-means initialisation.
SEED = 42
#: Blocks of :func:`exact_cosine_pairs_distributed`: shuffle volume is
#: N x N_BLOCKS rows, a group holds 2N / N_BLOCKS vectors.
N_BLOCKS = 8
#: Decimal places the SemDeDup operators round the cosine to before
#: the threshold, as the SQL twins do.
ROUND_DIGITS = 4
#: IVF quantizer training: sample rows and Lloyd iterations.
IVF_MAX_TRAIN = 100_000
IVF_MAX_ITER = 10
#: PQ fixed-point scale, codebook size bound and query-set bound.
PQ_SCALE = 1_000_000
PQ_MAX_CODES = 4096
PQ_MAX_QUERIES = 1024


def _cosine_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine of every row of *a* against every row of *b* (float64),
    0.0 where either norm is zero — the arithmetic of
    ``functions.vectors.cosine_similarity`` and of the SQL twins."""
    denom = np.outer(np.linalg.norm(a, axis=1), np.linalg.norm(b, axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, (a @ b.T) / denom, 0.0)


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """*m* with every row scaled to unit L2 norm (zero rows stay zero)."""
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(norms == 0, 1.0, norms)


def _scored_topk(
    corpus: DataFrame,
    queries: DataFrame,
    on: str | None,
    k: int,
    round_digits: int | None,
) -> DataFrame:
    """``(query_id, vec_id, cosine)``: *corpus* joined to the broadcast
    *queries* (``on=None``: a cross join), the k most similar rows per
    query, ties to the smaller id.  *round_digits* rounds the cosine
    BEFORE ranking, so float ulps cannot flip the order between
    engines."""
    cos = cosine_similarity(VEC_COL, QUERY_VEC_COL)
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    q = F.broadcast(queries)
    joined = corpus.crossJoin(q) if on is None else corpus.join(q, on)
    scored = joined.select(F.col(QUERY_ID_COL), F.col(ID_COL), cos.alias("cosine"))
    return priority_dedup(
        scored, QUERY_ID_COL, [F.desc("cosine"), F.asc(ID_COL)], k
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_digits: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Returns ``(query_id, vec_id, cosine)``, k rows per query (ties
    broken by id for determinism).  The query side is broadcast —
    corpus partitions are scanned once with no shuffle; the only
    shuffle is the per-query top-k window over |Q|·N candidate rows,
    which AQE coalesces.  For large |Q|, chunk the query set.
    """
    return _scored_topk(
        corpus, queries.select(QUERY_ID_COL, QUERY_VEC_COL), None, k, round_digits
    )


def _hyperplane(dim: int, bit: int, seed: int) -> list[float]:
    # Deterministic pseudo-gaussian hyperplane: splitmix64-style hash of
    # (seed, bit, i) mapped to [-1, 1).  Distribution quality is ample
    # for LSH; determinism is the point (reproducible across runs).
    out = []
    for i in range(dim):
        x = (seed * 0x9E3779B97F4A7C15 + bit * 0xBF58476D1CE4E5B9 + i * 0x94D049BB133111EB) & (
            (1 << 64) - 1
        )
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) & ((1 << 64) - 1)
        x ^= x >> 31
        out.append((x / float(1 << 63)) - 1.0)
    return out


def random_hyperplane_signature(vec: str, dim: int, bits: int = 8) -> Column:
    """Sign-of-projection LSH signature as an INT (one bit per
    hyperplane) of the array column named *vec*.  Same-bucket vectors
    are likely similar in angle.  One SQL expression, each hyperplane
    an inline double-array literal."""
    v = col_sql(vec)
    sig = "0"
    for b in range(bits):
        plane = array_sql(_hyperplane(dim, b, SEED))
        sig = f"({sig} | CASE WHEN {dot_sql(v, plane)} >= 0 THEN {1 << b} ELSE 0 END)"
    return F.expr(sig)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 8,
    multiprobe: int = 0,
    round_digits: int | None = None,
    signed_corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket (plus, with
    *multiprobe* = h > 0, every bucket within Hamming distance h of
    its signature — the standard multi-probe recall lever: neighbors
    that flipped a few hyperplane signs live in nearby buckets, so
    probing sum_{i<=h} C(bits, i) buckets buys recall without
    re-hashing or duplicating the corpus).

    The corpus is signed once (narrow map — at scale, persist the
    signed corpus bucketed by signature); each query joins to its
    probe bucket(s), then exact cosine + top-k within them.
    ``multiprobe == bits`` probes every bucket and therefore equals
    exact brute force — the oracle anchor for the whole path
    (``cosine_topk_lsh_probeall``).  *round_digits* rounds the
    similarity before ranking for cross-engine oracle stability.
    """
    # the probe-mask enumeration below walks all 2^bits ints once at
    # the driver; fine for the hyperplane-LSH sweet spot (8-16 bits)
    # but a foot-gun beyond it — fail fast instead of OOMing the driver
    if bits > 16:
        raise ValueError(
            f"cosine_topk_lsh: bits={bits} > 16 — the multiprobe mask "
            "enumeration is O(2^bits) driver-side; use <=16 bits or "
            "band multiple independent signatures instead"
        )
    # *signed_corpus* lets callers inject a pre-signed corpus — the
    # canonical plans.fragments.signed_embeddings fragment, shared
    # across the probe and full-probe queries in a batch.  It must
    # carry ``__bucket`` from the SAME (dim, bits) signature; query-side
    # signing below always recomputes from the parameters.
    if signed_corpus is None:
        signed_corpus = corpus.withColumn(
            "__bucket", random_hyperplane_signature(VEC_COL, dim, bits)
        )
    # probe masks: all signature perturbations within hamming<=h,
    # enumerated once at the driver (sum C(bits,i) ints, tiny at <=16 bits)
    masks = [m for m in range(1 << bits) if bin(m).count("1") <= multiprobe]
    signed_queries = (
        queries.withColumn(
            "__sig", random_hyperplane_signature(QUERY_VEC_COL, dim, bits)
        )
        .withColumn("__m", F.expr(f"explode({array_sql(masks)})"))
        .select(
            QUERY_ID_COL,
            QUERY_VEC_COL,
            F.col("__sig").bitwiseXOR(F.col("__m")).alias("__bucket"),
        )
    )
    return _scored_topk(signed_corpus, signed_queries, "__bucket", k, round_digits)


def embedding_neardup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH blocking.

    Self-join within LSH buckets only (vectors at cosine ≥ ~0.95 almost
    always share a sign-signature at modest bit counts), then exact
    cosine filter.  Returns ``(id_a, id_b, cosine)`` with id_a < id_b.
    """
    signed = df.select(
        F.col(ID_COL).alias("__id"),
        F.col(VEC_COL).alias("__vec"),
        random_hyperplane_signature(VEC_COL, dim, bits).alias("__bucket"),
    )
    l, r = signed.alias("l"), signed.alias("r")
    return (
        l.join(
            r,
            (F.col("l.__bucket") == F.col("r.__bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            cosine_similarity("l.__vec", "r.__vec").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def exact_cosine_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.45,
    round_digits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine via Arrow-batched blocked matmul.

    The expression form (one ``zip_with``+``aggregate`` per pair) is
    interpreted per array element in Spark, so an N² pair join pays
    N²·dim interpreted closure calls.  Here the right side is collected
    once, broadcast as a dense ``(N × dim)`` numpy matrix, and every
    corpus partition computes a ``(batch × N)`` BLAS matmul inside
    ``mapInPandas`` — the canonical "vector math belongs in Arrow
    batches" case (~20× over the expression form at 2k×2k pairs).

    Arithmetic mirrors the SQL oracle exactly: ``dot / (na·nb)`` in
    float64, rounded to *round_digits* before the threshold, zero when
    either norm is zero.  Emits ``(id_a, id_b, cosine)`` with
    ``id_a < id_b``.

    TEST/BASELINE ONLY: the right side is collected to the driver, so
    the broadcast is the bound (~1 GB per million 256-dim float64
    vectors).  Every registered query's default path goes through
    :func:`exact_cosine_pairs_distributed` instead, which computes the
    identical result with no driver collect; this variant remains the
    simplest possible oracle for the unit tests to cross-check both
    against.
    """
    spark = df.sparkSession
    pdf = df.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    mat = np.array(pdf[vec_col].tolist(), dtype="float64")
    norms = np.linalg.norm(mat, axis=1)
    b = spark.sparkContext.broadcast((ids, mat, norms))

    id_field = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"id_a {id_field}, id_b {id_field}, cosine double"
    )

    def block(batches):
        r_ids, r_mat, r_norms = b.value
        for batch in batches:
            if len(batch) == 0:
                continue
            a_ids = batch[id_col].to_numpy()
            a_mat = np.array(batch[vec_col].tolist(), dtype="float64")
            a_norms = np.linalg.norm(a_mat, axis=1)
            denom = np.outer(a_norms, r_norms)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, (a_mat @ r_mat.T) / denom, 0.0)
            cos = np.round(cos, round_digits)
            ai, bi = np.nonzero(
                (cos >= threshold) & (a_ids[:, None] < r_ids[None, :])
            )
            if len(ai):
                yield pd.DataFrame(
                    {"id_a": a_ids[ai], "id_b": r_ids[bi], "cosine": cos[ai, bi]}
                )

    return df.select(id_col, vec_col).mapInPandas(block, schema=out_schema)


def exact_cosine_pairs_distributed(
    df: DataFrame,
    threshold: float = 0.45,
    round_digits: int = 4,
) -> DataFrame:
    """Exact all-pairs cosine with NO driver collect: the fully
    distributed form of :func:`exact_cosine_pairs_blocked` (same
    output, bit-for-bit).

    Vectors are hash-assigned to :data:`N_BLOCKS` blocks; every
    unordered block pair ``(i, j), i <= j`` becomes one shuffle group,
    and each row replicates to the N_BLOCKS groups it participates in (one
    ``explode`` — no self-join of the full table).  Inside a group an
    Arrow batch holds just the two blocks, numpy matmuls them, and the
    upper triangle (``id_a < id_b``) survives the threshold.

    Scale accounting: shuffle volume is ``N x N_BLOCKS`` rows and peak
    executor state is ``2N / N_BLOCKS`` vectors, so N_BLOCKS trades
    shuffle for memory — at 1M x 256-dim float64, 32 blocks bound a
    group under ~130 MB.  The O(N²) multiply itself is the
    price of EXACTNESS and spreads over ``N_BLOCKS·(N_BLOCKS+1)/2``
    independent tasks; the sub-quadratic path for corpus scale remains
    :func:`semantic_dedup` / LSH blocking.  Arithmetic mirrors the SQL
    oracle exactly: float64 ``dot/(na·nb)``, rounded before the
    threshold, zero when either norm is zero.
    """
    id_field = df.schema[ID_COL].dataType.simpleString()
    out_schema = f"id_a {id_field}, id_b {id_field}, cosine double"

    base = df.select(
        F.col(ID_COL),
        F.col(VEC_COL),
        F.pmod(F.xxhash64(F.col(ID_COL)), F.lit(N_BLOCKS)).cast("int").alias("__b"),
    )
    # one row per (row, partner block): group key is the unordered pair
    replicated = base.select(
        ID_COL,
        VEC_COL,
        "__b",
        F.explode(F.sequence(F.lit(0), F.lit(N_BLOCKS - 1))).alias("__o"),
    ).select(
        ID_COL,
        VEC_COL,
        "__b",
        F.least("__b", "__o").alias("__gi"),
        F.greatest("__b", "__o").alias("__gj"),
    )
    # no dedup needed: for a row in block b, each partner o maps to a
    # distinct (gi, gj) — the row lands in each of its N_BLOCKS groups
    # exactly once

    def pair_block(key, pdf):
        gi, gj = int(key[0]), int(key[1])
        ids = pdf[ID_COL].to_numpy()
        mat = np.array(pdf[VEC_COL].tolist(), dtype="float64")
        if gi == gj:  # diagonal group: within-block upper triangle
            a_ids, a_mat = ids, mat
            b_ids, b_mat = ids, mat
        else:
            left = pdf["__b"].to_numpy() == gi
            a_ids, a_mat = ids[left], mat[left]
            b_ids, b_mat = ids[~left], mat[~left]
        if len(a_ids) == 0 or len(b_ids) == 0:
            return pd.DataFrame(
                {
                    "id_a": np.array([], dtype=ids.dtype),
                    "id_b": np.array([], dtype=ids.dtype),
                    "cosine": np.array([], dtype="float64"),
                }
            )
        cos = np.round(_cosine_matrix(a_mat, b_mat), round_digits)
        keep = (cos >= threshold) & (a_ids[:, None] < b_ids[None, :])
        ai, bi = np.nonzero(keep)
        out = pd.DataFrame(
            {"id_a": a_ids[ai], "id_b": b_ids[bi], "cosine": cos[ai, bi]}
        )
        if gi != gj:
            # cross-block pairs can have id_a in either block; the
            # a<b mask above only caught left-side-smaller — add the
            # right-side-smaller orientation
            keep2 = (cos >= threshold) & (a_ids[:, None] > b_ids[None, :])
            ai2, bi2 = np.nonzero(keep2)
            if len(ai2):
                out = pd.concat(
                    [
                        out,
                        pd.DataFrame(
                            {
                                "id_a": b_ids[bi2],
                                "id_b": a_ids[ai2],
                                "cosine": cos[ai2, bi2],
                            }
                        ),
                    ],
                    ignore_index=True,
                )
        return out

    return replicated.groupBy("__gi", "__gj").applyInPandas(
        pair_block, schema=out_schema
    )


def ivf_assign_cells(
    corpus: DataFrame, n_cells: int = 16
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: spherical k-means centroids trained
    DRIVER-SIDE on a bounded sample, corpus assigned to its nearest
    cell in one broadcast-centroid narrow pass.

    Returns ``(corpus + __cell column, centroids)``.  Training is
    deliberately NOT distributed: like FAISS, the quantizer fits on a
    bounded sample (:data:`IVF_MAX_TRAIN` rows → numpy Lloyd iterations,
    fully deterministic via :data:`SEED`) because a handful of centroids
    never needs more data, and a distributed k-means pays tens of
    scheduler stages to compute what numpy finishes in milliseconds.  The distributed
    part is the assignment: one expression pass over the full corpus,
    no shuffle.  Persist the assigned corpus partitioned by ``__cell``
    so repeated query batches only read the probed cells — that
    partition pruning is the entire point of IVF.
    """
    rows = corpus.select(F.col(VEC_COL).alias("v")).limit(IVF_MAX_TRAIN)
    sample = _unit_rows(np.array(rows.toPandas()["v"].tolist(), dtype="float64"))
    rng = np.random.RandomState(SEED)
    cents = sample[rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)]
    for _ in range(IVF_MAX_ITER):
        # cosine assignment == argmax dot on normalized vectors
        assign = (sample @ cents.T).argmax(axis=1)
        new = np.stack(
            [
                sample[assign == c].mean(axis=0) if (assign == c).any() else cents[c]
                for c in range(len(cents))
            ]
        )
        new = _unit_rows(new)
        if np.allclose(new, cents, atol=1e-9):
            break
        cents = new
    centroids = [list(map(float, c)) for c in cents]

    assigned = corpus.withColumn(
        "__cell", F.element_at(_nearest_cells_udf(centroids, 1)(F.col(VEC_COL)), 1)
    )
    return assigned, centroids


def _nearest_cells_udf(centroids: list[list[float]], nprobe: int):
    """Vectorized (Arrow-batched) nprobe-nearest-cell assignment.

    One numpy matmul per batch: ``(batch × dim) @ (dim × n_cells)``
    then argsort — the canonical "vector math belongs in a pandas_udf"
    case.  The expression formulation (16 interpreted higher-order dot
    products per row) cost ~2 s per pass over 20k rows; the matmul is
    effectively free.  Input vectors need not be normalized: rows are
    L2-normalized inside the batch, centroids are normalized already.
    """
    from pyspark.sql.functions import pandas_udf

    cents = np.asarray(centroids, dtype="float64").T  # dim × n_cells
    p = min(nprobe, cents.shape[1])

    @pandas_udf("array<int>")
    def nearest(batch: pd.Series) -> pd.Series:
        scores = _unit_rows(np.array(batch.tolist(), dtype="float64")) @ cents
        # stable argsort on -score ties break toward the smaller cell id
        order = np.argsort(-scores, axis=1, kind="stable")[:, :p]
        return pd.Series(list(order.astype("int32")))

    return nearest


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    round_digits: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: queries probe their *nprobe* nearest
    k-means cells; exact cosine + window top-k inside the probed cells.

    ``nprobe == n_cells`` degenerates to exact brute force (the unit
    tests assert this, and ``cosine_topk_ivf_fullprobe`` turns it into
    a driver-checked oracle row); recall/latency trades off through
    *nprobe*.  Unlike hyperplane LSH, cell population adapts to the
    data distribution, so skewed corpora don't collapse into one
    bucket.  *round_digits* rounds the similarity BEFORE the top-k
    window (set it when an oracle ranks on rounded values, so float
    ulps can't flip the order between engines).
    """
    assigned, centroids = ivf_assign_cells(corpus, n_cells=n_cells)
    probed = queries.select(
        QUERY_ID_COL,
        QUERY_VEC_COL,
        F.explode(_nearest_cells_udf(centroids, nprobe)(F.col(QUERY_VEC_COL))).alias(
            "__cell"
        ),
    )
    return _scored_topk(assigned, probed, "__cell", k, round_digits)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.45,
    n_cells: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster with the IVF
    coarse quantizer, then inside each cluster drop every row that has
    a lower-id neighbor with cosine ≥ *threshold*.

    This is the scale answer to O(N²) embedding dedup: the quadratic
    pairwise pass runs only WITHIN clusters (sum of cell² ≪ N² for
    balanced cells), exactly as in the SemDeDup recipe — near-dups are
    overwhelmingly co-located in embedding space, so cross-cluster
    pairs are sacrificed for a ~n_cells× work reduction.  The
    within-cell pass is one numpy matmul per cell via applyInPandas
    (Arrow batches, no Python-per-row cost); keep/drop is
    deterministic (lowest id in each similar group survives).

    With ``n_cells=1`` the rule degrades to the exact global greedy
    dedup — that equivalence is the unit-test anchor; the celled
    variant is judged by "every drop is justified" plus recall against
    the exact rule.
    """
    assigned, _ = ivf_assign_cells(corpus, n_cells=n_cells)
    id_field = corpus.schema[ID_COL].dataType.simpleString()

    def keep_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ID_COL).reset_index(drop=True)
        m = np.array(pdf[VEC_COL].tolist(), dtype="float64")
        cos = np.round(_cosine_matrix(m, m), ROUND_DIGITS)
        lower = np.tril(cos >= threshold, k=-1)  # [i, j<i] similar pairs
        dropped = lower.any(axis=1)
        return pdf.loc[~dropped, [ID_COL]]

    kept = assigned.groupBy("__cell").applyInPandas(
        keep_cell, schema=f"{ID_COL} {id_field}"
    )
    return corpus.join(kept, ID_COL, "left_semi")


def semantic_dedup_exact(corpus: DataFrame, threshold: float = 0.45) -> DataFrame:
    """Exact global variant of :func:`semantic_dedup` (drop a row iff
    ANY lower-id row anywhere has cosine ≥ threshold), built on the
    fully distributed exact pair list (no driver collect anywhere on
    this path).  O(N²) compute — the correctness baseline the celled
    variant is judged against, and SQL-expressible so it carries the
    DuckDB oracle."""
    pairs = exact_cosine_pairs_distributed(
        corpus, threshold=threshold, round_digits=ROUND_DIGITS
    )
    dropped = pairs.select(F.col("id_b").alias(ID_COL)).distinct()
    return corpus.join(dropped, ID_COL, "left_anti")


def label_centroid_outliers(df: DataFrame) -> DataFrame:
    """Per-group centroid + outlier sweep as a grouped-map Pandas UDF
    (``groupBy().applyInPandas``) — SURVEY §2.9's batch grouped-map
    surface: each label's vectors arrive as ONE Arrow batch, numpy
    computes the centroid and every member's euclidean distance to it
    vectorized, and one summary row leaves per group.

    This is the curation outlier report: a label whose max distance
    dwarfs its average marks mislabeled/poisoned vectors.  Scale shape:
    one shuffle on the label, state = one group in memory at a time —
    a label too large for one executor should be pre-aggregated with
    a (sum, count) combine per partition instead (the classic two-phase
    mean), noted as the 100 TB escape.

    Rounding uses floor(x·10⁴+0.5) (HALF-UP on positive values) to
    match Spark/DuckDB ``round`` — numpy's own ``round`` is
    half-to-EVEN and would diverge on exact .00005 boundaries.
    Ties on the rounded max distance resolve to the smallest id.
    """

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack(pdf[VEC_COL].to_numpy()).astype(np.float64)
        ids = pdf[ID_COL].to_numpy()
        c = m.mean(axis=0)
        d = np.sqrt(((m - c) ** 2).sum(axis=1))
        rd = np.floor(d * 1e4 + 0.5) / 1e4
        top = ids[rd == rd.max()].min()
        return pd.DataFrame(
            {
                LABEL_COL: [pdf[LABEL_COL].iloc[0]],
                "n": [len(ids)],
                "avg_dist": [float(np.floor(d.mean() * 1e4 + 0.5) / 1e4)],
                "max_dist": [float(rd.max())],
                "top_outlier": [int(top)],
            }
        )

    out_schema = (
        f"{LABEL_COL} int, n bigint, avg_dist double, max_dist double, "
        "top_outlier bigint"
    )
    return df.groupBy(LABEL_COL).applyInPandas(summarize, schema=out_schema)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the ANN tier below IVF: compress vectors to
# M small codes so a 100 TB corpus's index fits in a fraction of the IO.
# ---------------------------------------------------------------------------


def pq_sampled_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    id_modulus: int = 33,
    lloyd_iters: int = 0,
):
    """Train PQ codebooks: one codeword table per subspace, as int64.

    Vectors are fixed-point scaled first — ``floor(x·PQ_SCALE + 0.5)``
    (half-up; numpy's round is half-to-EVEN and DuckDB/Spark round is
    half-away-from-zero, but floor(+0.5) is identical everywhere) — so
    every later distance/assignment/score is INTEGER-exact and an SQL
    oracle can replay it bit-for-bit.

    ``lloyd_iters=0`` keeps the data-sampled codebook (rows with
    ``id % id_modulus == 0``, the classic k-means init) — fully
    deterministic AND replayable in SQL.  ``lloyd_iters>0`` refines
    each subspace with Lloyd iterations (centroids re-fixed to int64
    each round) for lower quantization error; production uses that,
    the oracle row keeps 0.  Like the IVF coarse quantizer
    (``ivf_assign_cells``), training is deliberately driver-side on a
    BOUNDED sample (≤ :data:`PQ_MAX_CODES` codewords; a codebook never needs
    more data) — the distributed work is encode + scan, not training.

    Returns ``(codebooks, sub_dim)`` where codebooks is int64 ndarray
    of shape ``(n_codes, n_subspaces, sub_dim)``, codeword c being the
    sampled row with the c-th smallest id.
    """
    pdf = (
        corpus.filter((F.col(ID_COL) % id_modulus) == 0)
        .select(ID_COL, VEC_COL)
        .orderBy(ID_COL)
        .limit(PQ_MAX_CODES)
        .toPandas()
    )
    if pdf.empty:
        raise ValueError(
            f"PQ codebook sample is empty: no rows with {ID_COL} % "
            f"{id_modulus} == 0 — lower id_modulus or check the corpus"
        )
    vecs = np.array(pdf[VEC_COL].tolist(), dtype="float64")
    iv = np.floor(vecs * PQ_SCALE + 0.5).astype("int64")
    dim = iv.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub_dim = dim // n_subspaces
    books = iv.reshape(len(iv), n_subspaces, sub_dim)

    for _ in range(lloyd_iters):
        # per-subspace Lloyd step on the sample itself (sample == train
        # set here; a production trainer would stream a bigger sample)
        new = books.copy()
        for m in range(n_subspaces):
            pts = iv.reshape(len(iv), n_subspaces, sub_dim)[:, m, :]
            cw = books[:, m, :]
            d = (
                (pts * pts).sum(1)[:, None]
                + (cw * cw).sum(1)[None, :]
                - 2 * (pts @ cw.T)
            )
            assign = d.argmin(1)
            for c in range(len(cw)):
                sel = pts[assign == c]
                if len(sel):
                    new[c, m, :] = np.floor(sel.mean(0) + 0.5).astype("int64")
        if (new == books).all():
            break
        books = new
    return books, sub_dim


def pq_encode(corpus: DataFrame, codebooks) -> DataFrame:
    """Encode each vector to ``n_subspaces`` codes (nearest codeword by
    squared L2 per subspace, ties to the smaller code — numpy argmin's
    first-occurrence IS the smaller index).  One narrow Arrow pass with
    the codebooks in the closure (broadcast with the task), no shuffle.
    All arithmetic int64: scaled ints ≤ ~1e6, squared diffs ≤ 4e12,
    summed over sub_dim ≪ int64 — ANSI-safe.

    Output ``(id, __codes array<int>)`` — the compressed index a 100 TB
    deployment would persist instead of raw vectors (dim·4 bytes →
    n_subspaces bytes per row at 256 codes: 32× less scan IO).
    """
    from pyspark.sql.functions import pandas_udf

    books = codebooks  # (C, M, d) int64
    n_sub, sub_dim = books.shape[1], books.shape[2]
    cw_sq = (books.astype("int64") ** 2).sum(axis=2)  # (C, M)

    @pandas_udf("array<int>")
    def encode(batch: pd.Series) -> pd.Series:
        v = np.array(batch.tolist(), dtype="float64")
        iv = np.floor(v * PQ_SCALE + 0.5).astype("int64")
        pts = iv.reshape(len(iv), n_sub, sub_dim)
        codes = np.empty((len(iv), n_sub), dtype="int32")
        for m in range(n_sub):
            p = pts[:, m, :]
            d = (
                (p * p).sum(1)[:, None]
                + cw_sq[:, m][None, :]
                - 2 * (p @ books[:, m, :].T)
            )
            codes[:, m] = d.argmin(1)
        return pd.Series(list(codes))

    return corpus.select(ID_COL, encode(F.col(VEC_COL)).alias("__codes"))


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 8,
    id_modulus: int = 33,
    lloyd_iters: int = 0,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: exact query vectors against the
    PQ-compressed corpus.

    Per query a lookup table LUT[m][c] = ⟨q_m, codeword_{m,c}⟩ is
    precomputed (int64, exact); the corpus scan then scores each row as
    ``Σ_m LUT[m][code_m]`` — a pure table-gather over the CODES, never
    touching raw vectors.  Scale shape: codes table is ~dim·4/M× smaller
    than the corpus, the scan is map-side (LUTs ride in the closure,
    query set bounded by :data:`PQ_MAX_QUERIES` — chunk bigger batches), and the
    only shuffle is the per-query top-k window.  Ranking uses the raw
    INTEGER score (descending, ties to the smaller id) so Spark and an
    SQL oracle agree bit-for-bit; ``adc_dot`` rescales to cosine units
    at the end (embeddings are unit-norm, so ⟨q, x̂⟩ ≈ cosine).

    Returns ``(query_id, vec_id, adc_dot)``, k rows per query.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    books, sub_dim = pq_sampled_codebooks(
        corpus,
        n_subspaces=n_subspaces,
        id_modulus=id_modulus,
        lloyd_iters=lloyd_iters,
    )

    # orderBy before limit: an unordered limit keeps a partition/plan-
    # dependent subset once the query set exceeds PQ_MAX_QUERIES, silently
    # diverging from an oracle that scores every query (ADVICE r5 #2);
    # ordered, the kept subset is the deterministic id-smallest prefix.
    qpdf = (
        queries.select(QUERY_ID_COL, QUERY_VEC_COL)
        .orderBy(QUERY_ID_COL)
        .limit(PQ_MAX_QUERIES)
        .toPandas()
    )
    qids = qpdf[QUERY_ID_COL].to_numpy()
    qv = np.array(qpdf[QUERY_VEC_COL].tolist(), dtype="float64")
    qi = np.floor(qv * PQ_SCALE + 0.5).astype("int64")
    qsub = qi.reshape(len(qi), n_subspaces, sub_dim)  # (Q, M, d)
    # LUTs: (Q, M, C) int64 — Q·M·C·8 bytes, bounded by PQ_MAX_QUERIES
    luts = np.einsum("qmd,cmd->qmc", qsub, books)

    codes = pq_encode(corpus, books)

    out_schema = StructType(
        [
            StructField(QUERY_ID_COL, LongType()),
            StructField(ID_COL, LongType()),
            StructField("__iscore", LongType()),
        ]
    )

    def score(batches):
        m_idx = np.arange(n_subspaces)
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.stack(pdf["__codes"].to_numpy()).astype("int64")  # (n, M)
            ids = pdf[ID_COL].to_numpy()
            for j, qid in enumerate(qids):
                s = luts[j][m_idx[None, :], c].sum(axis=1)  # (n,)
                yield pd.DataFrame(
                    {QUERY_ID_COL: int(qid), ID_COL: ids, "__iscore": s}
                )

    scored = codes.mapInPandas(score, schema=out_schema)
    return priority_dedup(
        scored, QUERY_ID_COL, [F.desc("__iscore"), F.asc(ID_COL)], k
    ).select(
        QUERY_ID_COL,
        ID_COL,
        F.round(F.col("__iscore") / float(PQ_SCALE) ** 2, 4).alias("adc_dot"),
    )
