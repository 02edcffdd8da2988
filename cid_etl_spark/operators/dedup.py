"""Deduplication operators.

Reference parity (A3) plus the LLM-data-pipeline dedup family
(BASELINE.json north_star): exact content dedup, MinHash+LSH,
SimHash, and n-gram Jaccard near-dup.  All are shuffle-conscious:

- priority/exact dedup = ONE hash shuffle on the key + per-partition
  sort (window ``row_number``), never a global sort (SURVEY §2.4 A3).
- MinHash/LSH banding turns the O(N²) all-pairs problem into a
  shuffle on (band, bucket-signature) — only documents that collide in
  some band are ever compared, which is what makes near-dup feasible
  on 100 TB.
- All hashing is deterministic (``xxhash64``, siphash or
  ``md5``-derived), so runs are reproducible across clusters; the md5
  family is what SQL oracles replay.
- There is one MinHash signer (:func:`minhash_signature_table_arrow`),
  one SimHash signer (:func:`simhash_table_arrow`) and one banding
  routine (:func:`lsh_candidate_pairs`); each signer takes the
  base-hash family (``siphash`` or ``md5``).
"""

from __future__ import annotations

import logging
import re
from collections.abc import Sequence
from hashlib import md5

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_LOG = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# Reference-parity dedup
# ---------------------------------------------------------------------------


def priority_dedup(
    df: DataFrame,
    keys: str | Sequence[str],
    order: Sequence[Column],
    k: int = 1,
) -> DataFrame:
    """A3 — keep the first *k* rows per key under *order* (k=1: exactly
    one survivor; reference: stable sort by ``fonte`` DESC +
    ``drop_duplicates``, etl_cid10.py:183-184,360-361).  With k > 1 it
    is the per-key top-k every ranked query uses (nearest neighbors
    per query vector, hard negatives per anchor).

    The window form is the only shuffle-safe equivalent of pandas'
    stable sort-then-drop (SURVEY §4.2.1): Spark's
    ``orderBy().dropDuplicates()`` does NOT guarantee the survivor.
    Callers must make *order* total (add a unique tiebreaker) for a
    deterministic survivor.  NULL keys form one group of their own.
    The ``__rn <= k`` filter lets Spark plan a partial/final
    ``WindowGroupLimit``, so each partition ships at most k rows per
    key to the window.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def exact_dedup(
    df: DataFrame,
    content_cols: str | Sequence[str],
    tiebreak: Sequence[Column] | None = None,
) -> DataFrame:
    """Exact content dedup: one survivor per distinct content.

    Hash-groupBy semantics — the content columns are the key; the
    survivor is the minimum under *tiebreak* (deterministic) or an
    arbitrary-but-single row when no tiebreak is given.  For long text
    at scale, pre-hash the content (``xxhash64``) so the shuffle key is
    8 bytes instead of the document body.
    """
    cols = [content_cols] if isinstance(content_cols, str) else list(content_cols)
    key = F.xxhash64(*[F.col(c) for c in cols]).alias("__content_hash")
    order = list(tiebreak) if tiebreak is not None else [F.lit(1)]
    return priority_dedup(df.withColumn("__content_hash", key), "__content_hash", order).drop(
        "__content_hash"
    )


# ---------------------------------------------------------------------------
# Near-duplicate dedup: MinHash + LSH
# ---------------------------------------------------------------------------

#: Mersenne prime 2^31-1: modulus for the universal-hash family used by
#: the MinHash permutations.  31-bit so that ``a*h + b`` stays < 2^62
#: and never overflows BIGINT arithmetic (Spark 4 runs ANSI mode —
#: silent wraparound is an error, and we wouldn't want it anyway).
#: Fixed a/b parameters derive from the seed so signatures are
#: reproducible run-to-run and cluster-to-cluster.
_MERSENNE_31 = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    # Deterministic LCG expansion of the seed — no RNG state, identical
    # on every executor and every run.
    params = []
    x = seed & 0x7FFFFFFFFFFFFFFF
    for _ in range(num_hashes):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        a = (x % (_MERSENNE_31 - 1)) + 1
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        b = x % _MERSENNE_31
        params.append((a, b))
    return params


def shingles(text: Column | str, n: int = 5, words: bool = True) -> Column:
    """Distinct n-gram shingle array for MinHash/Jaccard.

    Word shingles (default) are robust to whitespace noise; character
    shingles (``words=False``) suit CJK / no-whitespace text.
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.lower(F.trim(c))
    if words:
        toks = F.split(c, r"\s+")
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    else:
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - n + 1, F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    return F.array_distinct(grams)


def md5_base_hash(s: Column) -> Column:
    """28-bit hash of a string column from its md5 prefix, reproducible
    in any engine with md5 (DuckDB: ``('0x' || substr(md5(g), 1,
    7))::BIGINT``).  The Column form of the ``md5`` base hash the Arrow
    MinHash signer computes in Python."""
    return F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")


def _drop_hot_buckets(
    banded: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Hot-bucket guard of the :func:`lsh_candidate_pairs` self-join:
    drop ``(band, bucket)`` groups larger than *max_bucket_size* —
    NEVER silently (counts logged at WARNING) — so one degenerate bucket
    can't become a single quadratic straggler task.  The membership
    table stays LAZY on purpose: banding is cheap map work over the
    (checkpointed) signature table, while materializing it would
    round-trip the raw band-key strings through RDD serialization —
    measured ~15% of the composed pipeline's wall at sf0.1.  The guard
    costs one extra banding pass for the bucket-count check; the
    anti-join is added only when a hot bucket actually exists.
    ``None`` disables the guard (and its one eager count job).
    """
    if max_bucket_size is None:
        return banded
    hot = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket_size)
    )
    stats = hot.agg(
        F.count(F.lit(1)).alias("n_buckets"), F.sum("__n").alias("n_rows")
    ).first()
    if stats["n_buckets"]:
        _LOG.warning(
            "LSH hot-bucket guard: dropped %d bucket(s) totalling %d banded "
            "rows (> max_bucket_size=%d); members still pair via their "
            "other bands",
            stats["n_buckets"],
            stats["n_rows"],
            max_bucket_size,
        )
        banded = banded.join(
            hot.select("band", "bucket"), ["band", "bucket"], "left_anti"
        )
    return banded


def lsh_candidate_pairs(
    signed: DataFrame,
    num_bands: int = 16,
    max_bucket_size: int | None = None,
    base_hash: str = "siphash",
) -> DataFrame:
    """Band a MinHash signature table ``(__id, mh_0..mh_{k-1})`` (the
    output of :func:`minhash_signature_table_arrow`) and emit candidate
    duplicate pairs ``(id_a, id_b)`` with ``id_a < id_b``.

    Rows agreeing on all ``k // num_bands`` signature values of any band
    land in the same bucket; the self-join shuffles on the (band,
    bucket) key only.  Output is distinct pairs — verify with
    :func:`jaccard_similarity` downstream.  The bucket key follows the
    signature's *base_hash* family: a multi-argument ``xxhash64`` over
    the band's columns for ``siphash``, and the raw comma-joined value
    string for ``md5`` (byte-identical across engines, so a SQL oracle
    replays the banding exactly).

    **Hot-bucket guard.**  The within-bucket self-join is quadratic in
    bucket size, so ONE degenerate band bucket (boilerplate-heavy
    corpus: thousands of docs agreeing on a band) turns into a single
    straggler task emitting billions of pairs.  With *max_bucket_size*
    set, buckets larger than the cap are DROPPED before the join by
    :func:`_drop_hot_buckets`, and the drop is logged at WARNING.  Docs
    in a dropped bucket still pair through their other
    ``num_bands - 1`` bands, and a bucket that hot is a near-clone
    family the EXACT dedup stage upstream already collapses.

    The DEFAULT is ``None`` (no cap): oracle-checked callers get the
    exact uncapped semantics their SQL twins model.  Scale-oriented
    callers pass an explicit cap (2000 → ≤2M pairs per bucket bounds
    the worst single task at 100 TB; far above anything a healthy
    corpus produces at test SF, so fixtures never trip it and any
    firing is attributable via the WARNING log).
    """
    _check_base_hash(base_hash)
    num_hashes = sum(c.startswith("mh_") for c in signed.columns)
    rows_per_band = max(num_hashes // num_bands, 1)

    def band_key(b: int) -> Column:
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        if base_hash == "md5":
            return F.concat_ws(",", *[c.cast("string") for c in cols])
        return F.xxhash64(*cols)

    banded = _drop_hot_buckets(
        signed.select(
            "__id",
            F.posexplode(F.array(*[band_key(b) for b in range(num_bands)])).alias(
                "band", "bucket"
            ),
        ),
        max_bucket_size,
    )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )


def jaccard_similarity(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


#: Java's default ``\s`` class, which :func:`shingles` splits on
#: (``split(text, '\\s+')``); Python's unicode ``\s`` is wider.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _word_grams(t: str | None, n: int) -> list[str]:
    """:func:`shingles` ``(text, n)`` in Python, element for element,
    given ``t = lower(trim(text))``: split on Java ``\\s+`` keeping
    empty edge tokens, join each *n*-token window with ``' '`` (one
    gram of all tokens when there are at most *n*), keep distinct grams
    in first-seen order.  NULL yields ``[""]``, as it does in Spark
    (``size(split(NULL))`` is NULL, so ``shingles`` slices nothing and
    ``concat_ws`` of that is the empty string)."""
    toks = _JAVA_WS.split(t) if t is not None else []
    if len(toks) > n:
        grams = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
    else:
        grams = [" ".join(toks)]
    return list(dict.fromkeys(grams))


def _gram_hashes_exploded(texts, n: int) -> "tuple":
    """Distinct word-n-gram hashes per text, over the grams of
    :func:`shingles` (:func:`_word_grams` after ``lower`` → trim
    *spaces only*), each leaving the batch as a 64-bit deterministic
    hash (``pandas.util.hash_array`` siphash) instead of a string.
    NULL text contributes no rows.

    The whole batch is hashed in ONE ``hash_array`` call over every
    gram, and deduplicated per text by one sort on (owner, hash) plus an
    adjacent-difference mask — so each text's hashes come out ascending,
    exactly as a per-text ``np.unique`` would give them.

    Returns ``(flat: uint64 ndarray, lens: int64 ndarray)``.
    """
    import numpy as np

    grams: list = []
    counts = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if isinstance(t, str):
            g = _word_grams(t.lower().strip(" "), n)
            grams += g
            counts[i] = len(g)
    owner = np.repeat(np.arange(len(texts)), counts)
    h = pd.util.hash_array(np.asarray(grams, dtype=object))
    order = np.lexsort((h, owner))
    h, owner = h[order], owner[order]
    keep = np.ones(len(h), dtype=bool)
    keep[1:] = (h[1:] != h[:-1]) | (owner[1:] != owner[:-1])
    return h[keep], np.bincount(owner[keep], minlength=len(texts))


def shingle_index_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """Inverted shingle index: one row per ``(document, distinct
    shingle)`` with the shingle as a BIGINT hash — ``(__id[, __blk],
    __n, __g)`` where ``__n`` is the document's distinct-shingle count.

    Built in ONE vectorized ``mapInPandas`` pass (tokenize → n-gram →
    hash → unique, all numpy/siphash inside the Arrow batch), so the
    Spark plan is a bare projection: no interpreted array HOFs
    (~0.4 ms/doc measured), no string array materialization, no
    ``explode``.  Downstream joins key on the 8-byte hash instead of a
    20-30 byte gram string — roughly 3× less shuffle volume, and the
    join itself is a long-vs-long comparison.
    """
    import numpy as np

    cols = [F.col(id_col).alias("__id")]
    if block_col:
        cols.append(F.col(block_col).alias("__blk"))
    cols.append(F.col(text_col).alias("__t"))
    prepped = df.select(*cols)
    id_field = df.schema[id_col].dataType.simpleString()
    blk_field = (
        f", __blk {df.schema[block_col].dataType.simpleString()}" if block_col else ""
    )

    def expand(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            flat, lens = _gram_hashes_exploded(pdf["__t"].tolist(), n)
            rep = np.repeat(np.arange(len(pdf)), lens)
            out = {"__id": pdf["__id"].to_numpy()[rep]}
            if block_col:
                out["__blk"] = pdf["__blk"].to_numpy()[rep]
            out["__n"] = lens[rep]
            out["__g"] = flat.view(np.int64)
            yield pd.DataFrame(out)

    return prepped.mapInPandas(
        expand, schema=f"__id {id_field}{blk_field}, __n bigint, __g bigint"
    )


def ngram_jaccard_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via an inverted shingle index.

    Returns ``(id_a, id_b, jaccard)`` with ``round(jaccard, 4) >=
    threshold``.  Instead of a blocked self-join that evaluates
    ``array_intersect`` on every candidate pair (O(N²) per block — 138 s
    at sf0.1, unusable at 100 TB), we explode the distinct shingles and
    self-join on the shingle itself: each output row of that join IS one
    common shingle of one pair, so ``count(*)`` grouped by the pair is
    ``|A ∩ B|`` and ``|A ∪ B| = |A| + |B| - |A ∩ B|``.  Work is
    proportional to the number of *actually shared* shingles, the
    aggregate partially combines map-side, and pairs sharing nothing are
    never materialized (correct for any ``threshold > 0``).  Hot
    shingles are the skew risk — for web-scale corpora drop shingles
    with document frequency above a cap, or use MinHash banding
    (:func:`minhash_dedup_pairs`) as the sub-quadratic path.

    *block_col* (e.g. language) additionally restricts pairs to equal
    block values, matching the blocked-join semantics.

    The index rows are built by :func:`shingle_index_arrow` (vectorized
    Arrow pass, grams as 64-bit hashes) and persisted: the self-join
    consumes the index twice, and without the barrier the whole
    tokenize+hash pipeline — i.e. the corpus scan — runs once per side.
    Intersection counts over hashed grams equal string-gram counts
    absent a 64-bit collision *within one document pair's union*
    (probability ~m²·2⁻⁶⁴ for m shared shingles — negligible even at
    100 TB corpus scale, and any collision only perturbs one pair's
    count by 1).
    """
    common = _shared_shingle_counts(df, id_col, text_col, n, block_col)
    j = F.round(
        F.col("__common") / (F.col("__na") + F.col("__nb") - F.col("__common")), 4
    )
    return (
        common.withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shared_shingle_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    block_col: str | None,
) -> DataFrame:
    """Inverted-index core shared by the exact set-similarity joins:
    ``(id_a, id_b, __na, __nb, __common)`` for every pair sharing at
    least one distinct n-gram shingle (see
    :func:`ngram_jaccard_pairs_exact` for the cost model)."""
    # localCheckpoint, not persist: both self-join sides consume the
    # index, and a persist would pin executor storage for the session
    # (the returned pair table is lazy, so there is no safe unpersist
    # point) — checkpointed blocks are released when the plan is GC'd.
    ex = shingle_index_arrow(df, id_col, text_col, n, block_col).localCheckpoint(
        eager=True
    )
    a = ex.select(
        F.col("__id").alias("id_a"),
        F.col("__n").alias("__na"),
        *([F.col("__blk").alias("__blk")] if block_col else []),
        "__g",
    )
    b = ex.select(
        F.col("__id").alias("id_b"),
        F.col("__n").alias("__nb"),
        *([F.col("__blk")] if block_col else []),
        "__g",
    )
    keys = (["__blk"] if block_col else []) + ["__g"]
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(F.count(F.lit(1)).alias("__common"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs via the same inverted shingle
    index as :func:`ngram_jaccard_pairs_exact`.

    Containment ``|A ∩ B| / min(|A|, |B|)`` is the asymmetric
    near-dup measure: a short document quoted or wholly embedded
    inside a long one scores near 1.0 here while its Jaccard stays
    tiny (the union is dominated by the long side) — the
    boilerplate-wrapper / quote-farm / subset-page case Jaccard
    misses entirely.  Same cost model as the Jaccard variant: work ∝
    shingles actually shared, map-side partial aggregation, no pair
    materialized without a common shingle (correct for any
    ``threshold > 0``).  Emits ``(id_a, id_b, containment,
    len_ratio)`` with ``round(containment, 4) >= threshold``;
    ``len_ratio = min/max`` shingle-count ratio separates true
    near-dups (ratio ≈ 1) from subset relations (ratio ≪ 1).
    """
    common = _shared_shingle_counts(df, id_col, text_col, n, block_col)
    c = F.round(F.col("__common") / F.least("__na", "__nb"), 4)
    r = F.round(
        F.least("__na", "__nb") / F.greatest("__na", "__nb"), 4
    )
    return (
        common.withColumn("containment", c)
        .withColumn("len_ratio", r)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment", "len_ratio")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = None,
    base_hash: str = "siphash",
) -> DataFrame:
    """End-to-end MinHash near-dup: shingle → sign → band → candidate
    pairs → exact-Jaccard verify ≥ *threshold*.

    Returns ``(id_a, id_b, jaccard)``.  Signatures come from
    :func:`minhash_signature_table_arrow` (one map-side Arrow pass) in
    the *base_hash* family; :func:`lsh_candidate_pairs` bands them
    (behind its hot-bucket guard when *max_bucket_size* is set).  The
    exact-verify join then moves shingle arrays for candidate rows
    only — at 100 TB that's the difference between feasible and not.
    Oracle-checked callers that compare ``round(jaccard, 4)`` pass
    ``threshold=0.0`` and apply their rounded threshold themselves.
    """
    signed = minhash_signature_table_arrow(
        df, id_col, text_col, shingle_n, num_hashes, seed, base_hash
    )
    # Materialize the signature table: it is k×8 bytes per DOCUMENT
    # (thousands of times smaller than the corpus), while the banding
    # consumes it three times (both self-join sides + the hot-bucket
    # guard).  Without the barrier Spark recomputes the sign pass —
    # i.e. re-reads the corpus — once per consumer.  localCheckpoint
    # rather than persist: the result is consumed lazily by the caller,
    # so a persist would pin executor storage for the session.
    signed = signed.localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(signed, num_bands, max_bucket_size, base_hash)
    # candidate list is tiny (bucket collisions only) but consumed three
    # times below — materialize it so each consumer doesn't replay the
    # band self-join (localCheckpoint: released on GC, never pinned)
    pairs = pairs.localCheckpoint(eager=True)
    # shingle ONLY candidate rows: semi-join the corpus against the
    # candidate ids first, so the (expensive) shingle arrays are built
    # for collision rows, never the whole corpus
    cand_ids = (
        pairs.select(F.col("id_a").alias("__id"))
        .union(pairs.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    sh = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .join(cand_ids, "__id", "left_semi")
        .select("__id", shingles("__text", shingle_n).alias("__sh"))
    )
    # joins left un-hinted: AQE broadcasts whichever side is actually
    # small at runtime (candidates in the common case; never a blown
    # broadcast when a pathological corpus yields huge candidate sets)
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jaccard_similarity(F.col("__sh_a"), F.col("__sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def hamming_distance64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n: int = 3,
    bits: int = 64,
    base_hash: str = "siphash",
) -> DataFrame:
    """SimHash near-dup pairs with pigeonhole banding.

    The *bits*-wide fingerprint (:func:`simhash_table_arrow`, in the
    *base_hash* family) is split into ``max_hamming + 1`` chunks: two
    fingerprints within the Hamming budget MUST agree on at least one
    chunk, so the self-join shuffles on (chunk_index, chunk_value) only
    — never all-pairs — with guaranteed recall.  Smaller budgets →
    wider chunks → fewer candidate collisions.
    """
    fp = simhash_table_arrow(df, id_col, text_col, n, bits, base_hash)
    return hamming_pairs_from_fingerprints(fp, bits=bits, max_hamming=max_hamming)


def hamming_pairs_from_fingerprints(
    fp: DataFrame,
    id_col: str = "__id",
    fp_col: str = "__fp",
    bits: int = 64,
    max_hamming: int = 3,
) -> DataFrame:
    """Pigeonhole-banded Hamming pairs over PRECOMPUTED fingerprints.

    Shared blocking core for any fixed-width fingerprint family —
    SimHash over text shingles, perceptual hashes over decoded media,
    quantized embedding sign patterns.  The *bits*-wide fingerprint is
    split into ``max_hamming + 1`` chunks: two fingerprints within the
    Hamming budget MUST agree on at least one chunk (pigeonhole), so
    the self-join shuffles on (chunk_index, chunk_value) only — never
    all-pairs — with guaranteed recall.  Emits ``(id_a, id_b,
    hamming)`` with ``id_a < id_b``.
    """
    n_chunks = min(max_hamming + 1, 32)
    bounds = [round(i * bits / n_chunks) for i in range(n_chunks + 1)]
    fp = fp.select(F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp"))
    # 16 bytes per document — materialize so the chunk self-join's two
    # sides and the Hamming verify all reuse it instead of re-scanning
    # the corpus (same rationale as minhash_dedup_pairs; localCheckpoint
    # so the blocks release on GC instead of pinning session storage).
    fp = fp.localCheckpoint(eager=True)
    chunk_exprs = [
        F.shiftrightunsigned(F.col("__fp"), lo).bitwiseAND(
            F.lit((1 << (hi - lo)) - 1).cast("bigint")
        )
        for lo, hi in zip(bounds, bounds[1:])
    ]
    chunks = fp.select(
        "__id",
        "__fp",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk_val"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.col("l.__fp").alias("fp_a"),
            F.col("r.__fp").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming_distance64(F.col("fp_a"), F.col("fp_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Arrow signers (MinHash, SimHash)
# ---------------------------------------------------------------------------

#: Base-hash families of the Arrow signers.  ``siphash`` (the default,
#: ``pandas.util.hash_array``) is the fast production hash; ``md5``
#: hashes each gram to an md5 hex prefix that any SQL engine replays
#: (DuckDB: ``('0x' || substr(md5(g), 1, N))::BIGINT``), which is what
#: the oracle-checked near-dup queries sign with.
_BASE_HASHES = ("siphash", "md5")


def _check_base_hash(base_hash: str) -> None:
    if base_hash not in _BASE_HASHES:
        raise ValueError(f"base_hash must be one of {_BASE_HASHES}, got {base_hash!r}")


def _shingle_hashes_py(texts, n: int, base_hash: str, md5_digits: int) -> "tuple":
    """Per-text word-shingle hashes for the Arrow signers over
    ``lower(trim(text))`` values *texts*:

    - ``siphash``: tokens from ``str.split()``, each gram hashed to 64
      bits, DISTINCT hashes per text; a text without tokens (NULL,
      blank) has no grams.
    - ``md5``: the grams of :func:`shingles` exactly
      (:func:`_word_grams`), each hashed to the integer value of its
      md5's first *md5_digits* hex digits — the same grams and hashes
      a SQL twin computes.

    Rationale: Spark's array higher-order functions (transform /
    concat_ws-over-slice / array_distinct) evaluate INTERPRETED per
    element — measured ~0.4 ms/doc just to build shingle arrays, which
    dominated minhash/simhash wall time.  Tokenizing and hashing in
    Python keeps the whole feature pipeline inside one Arrow batch.

    Returns ``(flat_hashes: uint64 ndarray, lens: int64 ndarray)`` —
    the concatenated per-text hashes and each text's count.
    """
    import numpy as np

    lens = np.zeros(len(texts), dtype=np.int64)
    if base_hash == "md5":
        shift = 64 - 4 * md5_digits
        hashes: list[int] = []
        for i, t in enumerate(texts):
            grams = _word_grams(t, n)
            lens[i] = len(grams)
            hashes.extend(
                int.from_bytes(md5(g.encode()).digest()[:8], "big") >> shift
                for g in grams
            )
        return np.array(hashes, dtype=np.uint64), lens
    all_grams: list[np.ndarray] = []
    for i, t in enumerate(texts):
        toks = t.split() if isinstance(t, str) else []
        if len(toks) >= n:
            grams = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
        elif toks:
            grams = [" ".join(toks)]
        else:
            continue
        h = np.unique(pd.util.hash_array(np.asarray(grams, dtype=object)))
        all_grams.append(h)
        lens[i] = len(h)
    flat = (
        np.concatenate(all_grams) if all_grams else np.empty(0, dtype=np.uint64)
    )
    return flat, lens


def minhash_signature_table_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    num_hashes: int = 64,
    seed: int = 42,
    base_hash: str = "siphash",
) -> DataFrame:
    """MinHash signatures ``(__id, mh_0..mh_{k-1})``: the whole feature
    pipeline — tokenize, shingle, hash, k permutation-mins — runs
    vectorized inside ONE ``mapInPandas`` pass; the Spark plan is a
    trivial ``lower(trim(text))`` projection.

    Each permutation is the universal hash ``(a·h + b) mod 2^31-1``
    with LCG-derived ``(a, b)`` (:func:`_hash_params`) over a base gram
    hash *h*: siphash truncated to 31 bits, or for ``base_hash="md5"``
    the 28-bit md5 prefix a SQL twin replays bit for bit.  MinHash
    guarantees hold for any uniform base hash.

    - **No shuffle**: each document's signature is computed where the
      document lives — signing is fully map-side.
    - **No codegen bomb**: ``k`` separate ``min()`` aggregates compile
      a huge Janino function (~9 s cold at k=32 — measured).
    - **No interpreted HOFs**: Spark's array lambdas evaluate per
      element outside codegen (~0.4 ms/doc for shingling alone —
      measured); the numpy path hashes one flat array per batch and
      takes segment minima with ``np.minimum.reduceat``.
    """
    import numpy as np

    _check_base_hash(base_hash)
    params = _hash_params(num_hashes, seed)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in params], dtype=np.int64)[:, None]
    p = np.int64(_MERSENNE_31)

    prepped = df.select(
        F.col(id_col).alias("__id"), F.lower(F.trim(F.col(text_col))).alias("__t")
    )
    out_fields = ", ".join(f"mh_{i} bigint" for i in range(num_hashes))
    id_field = df.schema[id_col].dataType.simpleString()

    def sign(batches):
        for pdf in batches:
            n_rows = len(pdf)
            if n_rows == 0:
                continue
            flat, lens = _shingle_hashes_py(
                pdf["__t"].tolist(), shingle_n, base_hash, md5_digits=7
            )
            # 31-bit base hash keeps a*h in int64 range
            flat = (flat & np.uint64(_MERSENNE_31)).astype(np.int64)
            keep = lens > 0
            out = np.full((n_rows, len(a_vec)), p, dtype=np.int64)
            if keep.any():
                perm = (a_vec * flat[None, :] + b_vec) % p
                offsets = np.zeros(int(keep.sum()), dtype=np.int64)
                np.cumsum(lens[keep][:-1], out=offsets[1:])
                out[keep] = np.minimum.reduceat(perm, offsets, axis=1).T
            cols = {"__id": pdf["__id"].to_numpy()}
            cols.update({f"mh_{i}": out[:, i] for i in range(len(a_vec))})
            yield pd.DataFrame(cols)

    return prepped.mapInPandas(sign, schema=f"__id {id_field}, {out_fields}")


def simhash_table_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bits: int = 64,
    base_hash: str = "siphash",
) -> DataFrame:
    """SimHash fingerprints ``(__id, __fp)`` (same design as
    :func:`minhash_signature_table_arrow`): tokenize + shingle + hash +
    *bits* per-bit strict-majority votes all inside one vectorized
    ``mapInPandas`` pass over ``lower(trim(text))``.  Fully map-side,
    no shuffle, no interpreted array lambdas, no 64-aggregate codegen
    unit.  ``base_hash="md5"`` votes over 60-bit md5-prefix feature
    hashes (so *bits* ≤ 60, and ``1 << 59`` stays in BIGINT in every
    engine) — the fingerprint a SQL twin replays bit for bit."""
    import numpy as np

    _check_base_hash(base_hash)
    if base_hash == "md5" and bits > 60:
        raise ValueError(f"md5 SimHash features are 60 bits wide, got bits={bits}")
    prepped = df.select(
        F.col(id_col).alias("__id"), F.lower(F.trim(F.col(text_col))).alias("__t")
    )
    id_field = df.schema[id_col].dataType.simpleString()
    shifts = np.arange(bits, dtype=np.uint64)

    def sign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            flat, lens = _shingle_hashes_py(
                pdf["__t"].tolist(), n, base_hash, md5_digits=15
            )
            fps = np.zeros(len(pdf), dtype=np.uint64)
            keep = lens > 0
            if keep.any():
                bitmat = (
                    (flat[:, None] >> shifts[None, :]) & np.uint64(1)
                ).astype(np.int64)
                offsets = np.zeros(int(keep.sum()), dtype=np.int64)
                np.cumsum(lens[keep][:-1], out=offsets[1:])
                counts = np.add.reduceat(bitmat, offsets, axis=0)
                maj = (counts * 2 > lens[keep][:, None]).astype(np.uint64)
                fps[keep] = (maj << shifts[None, :]).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame(
                {"__id": pdf["__id"].to_numpy(), "__fp": fps.view(np.int64)}
            )

    return prepped.mapInPandas(sign, schema=f"__id {id_field}, __fp bigint")
