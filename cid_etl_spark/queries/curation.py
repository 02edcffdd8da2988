"""Model-based quality filtering, media codec rows and round-3
curation extensions (the co-purchase graph suite lives in
:mod:`.graph`, the embedding rows in :mod:`.embeddings`)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cid_etl_spark.functions.text import token_count, tokens
from cid_etl_spark.operators.aggregates import money
from cid_etl_spark.sources.parquet import load_table


from cid_etl_spark.queries._registry import _register
from cid_etl_spark.session import scratch_dir

# ---------------------------------------------------------------------------
# R2-continuation: model-based quality filtering (north-star extension)
# ---------------------------------------------------------------------------

_QUALITY_CLASSIFIER_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) > 0
              THEN string_split_regex(lower(trim(text)), '\s+')
              ELSE [] END AS toks
  FROM documents
),
w AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         COALESCE(CAST(list_sum(list_transform(toks,
             tk -> ((('0x' || substr(md5(tk), 1, 7))::BIGINT % 4096)
                    * 2654435761) % 4097 - 2048)) AS BIGINT), 0) AS margin
  FROM t
),
s AS (
  SELECT doc_id, n_tokens, margin,
         CASE WHEN n_tokens > 0
              THEN round(1.0 / (1.0 + exp(-4.0 * (margin::DOUBLE
                                                  / (n_tokens * 2048.0)))), 6)
              ELSE 0.5 END AS quality_score
  FROM w
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       margin,
       quality_score,
       (n_tokens > 0 AND quality_score >= 0.5) AS keep
FROM s
"""


@_register("quality_classifier_score", _QUALITY_CLASSIFIER_SQL)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: fastText-style hashed linear
    classifier inference over every document (operators.classifier).

    Tokenize → 28-bit md5 feature hash → 4096-way bucket → integer
    weight via Knuth multiplicative mix → exact integer margin sum →
    logistic link.  Entirely Column expressions inside whole-stage
    codegen: map-only, zero shuffles, zero Python — the scan IS the
    cost, so throughput at 100 TB is scan-bound.  The DuckDB oracle
    replays hashing, bucketing, the weight mix, and the logistic
    bit-for-bit; integer-first arithmetic means float associativity
    can never flip a rounded score (module docstring has the trained-
    weight swap-in path)."""
    from cid_etl_spark.operators.classifier import quality_classifier

    d = load_table(spark, sf_dir, "documents")
    return quality_classifier(d, "doc_id", "text")


_CONTAINMENT_PAIRS_SQL = r"""
    WITH sh AS (
      SELECT doc_id,
             lang,
             list_distinct(list_transform(
                 range(1, greatest(len(string_split_regex(lower(trim(text)), '\s+')) - 2, 1) + 1),
                 i -> array_to_string(string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' ')
             )) AS grams
      FROM documents
    )
    SELECT a.doc_id AS id_a,
           b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / least(len(a.grams), len(b.grams)), 4) AS containment,
           round(CAST(least(len(a.grams), len(b.grams)) AS DOUBLE)
                 / greatest(len(a.grams), len(b.grams)), 4) AS len_ratio
    FROM sh a
    JOIN sh b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams)) > 0
      AND round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                / least(len(a.grams), len(b.grams)), 4) >= 0.5
    """


@_register("ngram_containment_pairs", _CONTAINMENT_PAIRS_SQL)
def ngram_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: n-gram CONTAINMENT |A∩B| / min(|A|,|B|)
    with language blocking, via the same inverted shingle index as
    ngram_jaccard_pairs (operators.dedup.ngram_containment_pairs).
    Containment catches what Jaccard structurally cannot — a short
    document quoted or embedded inside a long one scores ~1.0 here
    while the union-dominated Jaccard stays tiny (quote farms,
    boilerplate wrappers, subset pages).  len_ratio = min/max shingle
    counts separates true near-dups (≈1) from subset relations (≪1).
    Cost model unchanged: work ∝ shingles actually shared, never N²
    per block."""
    from cid_etl_spark.operators.dedup import ngram_containment_pairs

    d = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, block_col="lang"
    )


_PHASH_NEARDUP_SQL = r"""
    WITH img AS (
      SELECT doc_id AS media_id, (doc_id // 3) % 40 AS grp
      FROM documents WHERE doc_id % 3 = 0
    ),
    fp AS (
      SELECT media_id,
             xor(('0x' || substr(sha256(CAST(grp AS VARCHAR)), 1, 15))::BIGINT,
                 media_id % 4) AS fp
      FROM img
    )
    SELECT a.media_id AS id_a,
           b.media_id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
    FROM fp a
    JOIN fp b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 2
    """


@_register("phash_image_neardup", _PHASH_NEARDUP_SQL)
def phash_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup via perceptual-hash Hamming blocking: the
    multimodal twin of SimHash text near-dup.  Payloads flow ONCE
    through the Arrow-batched pHash stage
    (multimodal.binary.perceptual_hash_images — 60-bit stub hash, real
    mapInPandas plumbing), then blocking moves 8 bytes per image
    through the SAME pigeonhole machinery SimHash uses
    (operators.dedup.hamming_pairs_from_fingerprints) — never the
    image, never all-pairs.  Fake media is seeded per GROUP
    ((doc_id div 3) % 40) so re-encoded variants exist, and a ≤2-bit
    XOR perturbation per member simulates re-encode jitter; the DuckDB
    twin replays seeding, hashing, perturbation, and the Hamming
    verify (all-pairs on the oracle side — guaranteed-recall blocking
    must reproduce it exactly)."""
    from cid_etl_spark.multimodal.binary import (
        attach_fake_media,
        perceptual_hash_images,
    )
    from cid_etl_spark.operators.dedup import hamming_pairs_from_fingerprints

    d = load_table(spark, sf_dir, "documents")
    seeded = d.withColumn("__seed", F.expr("(doc_id div 3) % 40"))
    media = attach_fake_media(seeded, "doc_id", "__seed")
    ph = perceptual_hash_images(media)
    fp = ph.select(
        "media_id",
        F.col("phash").bitwiseXOR(F.col("media_id") % 4).alias("fp"),
    )
    pairs = hamming_pairs_from_fingerprints(
        fp, id_col="media_id", fp_col="fp", bits=60, max_hamming=2
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int"))


_ZORDER_ROUNDTRIP_SQL = r"""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(round(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id BETWEEN 100 AND 299
      AND hour(ts) BETWEEN 6 AND 11
    GROUP BY event_type
    """


@_register("zorder_lake_roundtrip", _ZORDER_ROUNDTRIP_SQL)
def zorder_lake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered lake layout, driver-visible: events
    write z-ordered on (user_id, hour-of-day) via sources.sinks
    .zorder_write — range-partitioned and sorted by the interleaved
    Morton key, so each parquet file covers a small RECTANGLE of the
    2-D key space and a selective scan on EITHER dimension skips most
    files on footer min-max stats (per-file rectangles ~16% of the key
    space vs 100% under round-robin; pinned by tests/test_sinks.py).
    The reader then runs a 2-D selective aggregate over the clustered
    copy, and the oracle runs the same aggregate on the SOURCE table —
    proving the layout round-trip is lossless, which is the property
    that lets a 100 TB lake adopt the layout without a correctness
    risk.  Writes land in an sf-keyed scratch dir."""
    import os

    from cid_etl_spark.sources.sinks import zorder_write

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).withColumn("__hr", F.hour("ts").cast("bigint"))
    path = os.path.join(scratch_dir(spark, "zorder", sf_dir), "events_z")
    zorder_write(e, "user_id", "__hr", path, n_files=8)
    z = spark.read.parquet(path)
    return (
        z.filter(
            F.col("user_id").between(100, 299) & F.col("__hr").between(6, 11)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(F.sum(F.col("value").cast("decimal(18,4)"))).alias("sum_value"),
        )
    )


_PARETO_SQL = r"""
    SELECT a.o_orderkey, a.o_totalprice, a.o_orderdate
    FROM orders a
    WHERE NOT EXISTS (
      SELECT 1 FROM orders b
      WHERE b.o_totalprice > a.o_totalprice
        AND b.o_orderdate > a.o_orderdate
    )
    """


@_register("pareto_frontier_orders", _PARETO_SQL)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of orders maximizing both total price
    and order date — 'no later order was also more expensive'.  The
    oracle is the quadratic NOT EXISTS; the engine runs the
    partition-prune-merge skyline (operators.skyline.pareto_frontier):
    a parallel per-partition prune (window partitioned by partition
    id — one balanced shuffle, no global sort) followed by a global
    merge over the surviving candidates, whose size is governed by the
    frontier, not the input.  Strict dominance in both dims means
    price/date ties stay on the frontier in both engines."""
    from cid_etl_spark.operators.skyline import pareto_frontier

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    return pareto_frontier(o, "o_totalprice", "o_orderdate")


_BIGRAM_LM_SQL = r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0
    ), bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM tok, unnest(range(1, len(toks))) AS t(i)
      WHERE len(toks) >= 2
    ), c2 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
    ), v AS (
      SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM bg
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-avg(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v))), 4) AS bigram_xent
    FROM bg b JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
    GROUP BY b.doc_id
    """


@_register("bigram_lm_score", _BIGRAM_LM_SQL)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM self-perplexity: every document scored by mean
    negative log-probability of its word bigrams under the corpus's
    own add-k-smoothed bigram model — one modeling step past
    unigram_logprob_score (context-conditioned, so scrambled word
    order now raises the score even when the word multiset is typical).
    Counts aggregate with map-side combine; the vocab-sized context
    table broadcasts back over the bigram stream, while the bigram
    table (O(distinct bigrams), potentially V²) joins under AQE —
    broadcast while it fits, (w1, w2)-keyed shuffle join at corpus
    scale; the remaining wide shuffle is the final per-doc rollup.
    Smoothing is add-0.5 over the successor vocabulary V; documents
    with fewer than two tokens have no bigrams and drop out in both
    engines."""
    from cid_etl_spark.operators.aggregates import materialize_once

    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    # bigrams via slice+arrays_zip (r14, guide §4.1 "prefer built-ins"):
    # the r13 transform(sequence, struct(element_at...)) lambda ran on
    # the INTERPRETED higher-order-function path (the WARM_FIRST family
    # note in bench.py) — zip of the two shifted slices is the same
    # (w1, w2) stream through codegen'd expressions
    bgarr = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1).alias("w1"),
        F.slice(toks, 2, F.size(toks) - 1).alias("w2"),
    )
    bg = (
        d.filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(bgarr).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )
    # materialize the distinct-bigram rollup once (guide §5): c1, V and
    # the probability join all derive from c2 — left lazy, each
    # consumer re-ran the full explode+count
    c2 = materialize_once(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    # distinct w2 over c2 == distinct w2 over bg (c2 is the (w1, w2)
    # grouping of bg) — one pass over the small rollup instead of a
    # third pass over the exploded stream
    v = c2.agg(F.countDistinct("w2").cast("double").alias("v"))
    # c2 is O(distinct bigrams) — NOT vocab-sized — so no forced
    # broadcast: AQE broadcasts it while it fits and falls back to a
    # (w1, w2)-keyed shuffle join at corpus scale.  c1 (context vocab)
    # and the 1-row v stay broadcast.
    return (
        bg.join(c2.hint("shuffle_hash"), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                -F.avg(
                    F.log(
                        (F.col("c2") + 0.5) / (F.col("c1") + 0.5 * F.col("v"))
                    )
                ),
                4,
            ).alias("bigram_xent"),
        )
    )


_CHAR_ENTROPY_SQL = r"""
    WITH ch AS (
      SELECT doc_id, substr(text, i, 1) AS c
      FROM documents, unnest(range(1, length(text) + 1)) AS t(i)
      WHERE length(text) > 0
    ), cnt AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
      FROM ch GROUP BY doc_id, c
    ), tot AS (
      SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n,
             CAST(count(*) AS BIGINT) AS n_distinct_chars
      FROM cnt GROUP BY doc_id
    )
    SELECT cnt.doc_id,
           tot.n_distinct_chars,
           round(-sum((k / n) * log2(k / n)), 4) AS char_entropy_bits
    FROM cnt JOIN tot USING (doc_id)
    GROUP BY cnt.doc_id, tot.n_distinct_chars
    """


@_register("char_entropy_documents", _CHAR_ENTROPY_SQL)
def char_entropy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the Gopher-style
    gibberish/compression signal (base64 blobs and key-mash score far
    from prose's ~4.1 bits; repeated-char padding scores near zero).
    The per-(doc, char) count explodes one row per character but
    map-side partial aggregation collapses each partition to at most
    |docs×alphabet| rows before the shuffle — the wire cost is the
    ALPHABET per document, not the text length, which is what makes
    the shape safe at 100 TB."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    chars = F.transform(
        F.sequence(F.lit(1), F.length("text")),
        lambda i: F.col("text").substr(i, F.lit(1)),
    )
    ch = d.select("doc_id", F.explode(chars).alias("c"))
    cnt = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    tot = cnt.groupBy("doc_id").agg(
        F.sum("k").cast("double").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
    )
    p = F.col("k") / F.col("n")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id", "n_distinct_chars")
        .agg(F.round(-F.sum(p * F.log2(p)), 4).alias("char_entropy_bits"))
    )


_OOV_RATE_SQL = r"""
    WITH split AS (
      SELECT doc_id,
             CASE WHEN md5(CAST(doc_id AS VARCHAR))
                       >= '3333333333333333333333333333333333'
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents
    ), tok AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ), vocab AS (
      SELECT DISTINCT token
      FROM tok JOIN split USING (doc_id)
      WHERE split = 'train'
    )
    SELECT t.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (v.token IS NULL) AS BIGINT) AS n_oov,
           round(CAST(count(*) FILTER (v.token IS NULL) AS DOUBLE)
                 / count(*), 6) AS oov_rate
    FROM tok t
    JOIN split s USING (doc_id)
    LEFT JOIN vocab v USING (token)
    WHERE s.split = 'eval'
    GROUP BY t.lang
    """


@_register("oov_rate_by_split", _OOV_RATE_SQL)
def oov_rate_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer/vocab-drift diagnostic: build the vocabulary from the
    deterministic TRAIN split (same md5 threshold as
    holdout_split_documents — a doc never migrates) and measure the
    out-of-vocabulary token rate on the held-out split, per language.
    This is the eval-hygiene check run before freezing a tokenizer:
    a language whose eval OOV rate spikes is under-represented in
    train.  The vocab is distinct-token-sized; the join layout is
    left to AQE (vocab cardinality grows with the corpus, so a forced
    broadcast would not survive 100 TB — at small scale AQE broadcasts
    it anyway, at large scale it falls back to a hash join on the
    16-byte token key).  The wide shuffles are the vocab distinct and
    the final per-language rollup."""
    from cid_etl_spark.plans.fragments import token_stream

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    split = F.when(
        h >= "3333333333333333333333333333333333", "train"
    ).otherwise("eval")
    sp = d.select("doc_id", split.alias("split"))
    # the explode comes from the canonical token_stream fragment (r8:
    # the mechanical QUERY_FRAGMENTS derivation caught this query
    # re-deriving it inline — the exact reuse-by-omission it exists for)
    tok = token_stream(spark, sf_dir).withColumnRenamed("tok", "token")
    vocab = (
        tok.join(sp, "doc_id")
        .filter(F.col("split") == "train")
        .select("token")
        .distinct()
        .withColumn("__known", F.lit(1))
    )
    ev = tok.join(sp, "doc_id").filter(F.col("split") == "eval")
    return (
        ev.join(vocab, "token", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.count_if(F.col("__known").isNull()).cast("bigint").alias("n_oov"),
            F.round(
                F.count_if(F.col("__known").isNull()).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


_EXPORT_SHARDS_SQL = r"""
    WITH h AS (
      SELECT doc_id, n_chars,
             ('0x' || substr(md5('epoch1|' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS hv,
             CASE WHEN length(trim(text)) > 0
                  THEN len(string_split_regex(lower(trim(text)), '\s+'))
                  ELSE 0 END AS n_tok
      FROM documents
    )
    SELECT hv % 16 AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(hv) AS min_hash,
           max(hv) AS max_hash
    FROM h GROUP BY hv % 16
    """


@_register("export_shards_report", _EXPORT_SHARDS_SQL)
def export_shards_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle-and-shard for training export:
    shard and intra-shard order are pure functions of an EPOCH-KEYED
    content hash (md5('epoch1|' || doc_id)), so the training order is
    reproducible run-to-run, re-shufflable per epoch by changing the
    key, and assignment needs NO shuffle at all — the only exchange is
    the per-shard report rollup.  min/max_hash certify the hash-order
    range each shard would cover when written sorted (the writer-side
    twin is repartitionByRange + sortWithinPartitions on hv, the same
    layout discipline zorder_write applies in 2-D).  Balance check:
    16 shards of a hash-uniform key stay within sampling noise of
    equal, with no coordinator involved."""
    d = load_table(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("epoch1|"), F.col("doc_id").cast("string"))), 1, 7),
        16,
        10,
    ).cast("long")
    return (
        d.select(
            (hv % 16).alias("shard_id"),
            hv.alias("__hv"),
            token_count("text").cast("bigint").alias("__ntok"),
            "n_chars",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__ntok").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("__hv").alias("min_hash"),
            F.max("__hv").alias("max_hash"),
        )
    )


_KMV_SQL = r"""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM events
    ), r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ), kk AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept, max(hv) AS hk
      FROM r WHERE rn <= 64 GROUP BY event_type
    ), ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY event_type
    )
    SELECT ex.event_type,
           ex.exact_users,
           CASE WHEN kk.n_kept < 64 THEN CAST(kk.n_kept AS DOUBLE)
                ELSE round(63.0 / (kk.hk / 1152921504606846976.0), 4)
           END AS kmv_estimate,
           round(abs(CASE WHEN kk.n_kept < 64 THEN CAST(kk.n_kept AS DOUBLE)
                          ELSE round(63.0 / (kk.hk / 1152921504606846976.0), 4)
                     END - ex.exact_users) / ex.exact_users, 4) AS rel_error
    FROM ex JOIN kk USING (event_type)
    """


@_register("kmv_distinct_users", _KMV_SQL)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch per event_type, built
    from composition alone — no UDAF, no engine sketch: keep the k=64
    smallest 60-bit md5 hashes of the key and estimate
    ``(k-1)/h_(k)``; below k distinct the sketch IS the exact count.
    Because the hash is engine-replicable the DuckDB twin reproduces
    the ESTIMATE bit-for-bit — a strictly harder check than the HLL
    entry's 5%-tolerance boolean (approx_distinct_users), where the
    sketch internals are engine-specific.  Merge shape: a salted
    partial pass bounds the final per-key shuffle at 32·k survivor
    hashes regardless of key cardinality — the same partial/merge
    discipline any mergeable sketch needs at 100 TB.  The exact count
    rides along only to exhibit the realized relative error."""
    e = load_table(spark, sf_dir, "events")
    k = 64
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    h = e.select("event_type", hv.alias("hv")).distinct()
    # partial: k smallest within each of 32 salt lanes -> ≤ 32k rows/key
    part = h.withColumn("__salt", F.pmod(F.col("hv"), F.lit(32)))
    w1 = Window.partitionBy("event_type", "__salt").orderBy("hv")
    survivors = (
        part.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    # merge: global k smallest per key over the bounded survivor set
    w2 = Window.partitionBy("event_type").orderBy("hv")
    kept = (
        survivors.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.max("hv").alias("hk"),
        )
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        F.round(F.lit(float(k - 1)) / (F.col("hk") / F.lit(float(1 << 60))), 4)
    )
    ex = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    return (
        ex.join(kept, "event_type")
        .select(
            "event_type",
            "exact_users",
            est.alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("exact_users")) / F.col("exact_users"), 4
            ).alias("rel_error"),
        )
    )


_COGROUP_ATTRIB_SQL = r"""
    WITH c AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), j AS (
      SELECT p.user_id,
             (SELECT count(*) FROM c
              WHERE c.user_id = p.user_id
                AND c.ts >= p.ts - INTERVAL 1 HOUR
                AND c.ts < p.ts) AS n
      FROM p
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(count(*) FILTER (n > 0) AS BIGINT) AS n_attributed,
           CAST(sum(n) AS BIGINT) AS prior_clicks
    FROM j GROUP BY user_id
    """


@_register("cogroup_click_purchase", _COGROUP_ATTRIB_SQL)
def cogroup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided grouped-map UDF surface: ``groupBy().cogroup()
    .applyInPandas`` aligns click and purchase streams in paired Arrow
    batches — the API for per-key logic that needs BOTH relations
    materialized together (sequence alignment, per-key reconciliation,
    custom as-of semantics) where a join would explode rows or a
    single-sided grouped map would need a pre-join.

    r13 (guide §4.2/§4.5): the cogroup key is a deterministic HASH
    BUCKET of user_id, not user_id itself — cogroup pays a fixed
    per-group cost (two Arrow frames + a Python call per key), which at
    one-group-per-user dominated the wall (measured ~3 ms/user,
    6.4 s at sf0.1; 1.0 s bucketed, value-identical).  Inside each
    bucket pair the per-USER alignment stays exact and fully
    vectorized: (user, ts) pairs pack into one int64 key
    (user-index · K + µs-offset, K sized past the bucket's time span
    plus the 1 h horizon, with a loud overflow guard), so the
    clicks-in-the-hour-before count is the same two searchsorted calls
    on integer keys — identical integer arithmetic, one call per
    bucket instead of per user.  Per-task memory is rows/n_buckets
    instead of one user's events; the bucket key is
    ``pmod(xxhash64(user_id), n_buckets)`` — deterministic under
    retries (guide §2.5) — with n_buckets resolved adaptively from the
    input's plan-size estimate since r14 (VERDICT r13 #1; fixed 64
    before).  The scan stays unspread: the cogroup's own hash
    exchanges distribute the work (at 100 TB the scan has enough
    splits that _spread is a no-op either way).  Oracle: correlated
    COUNT subquery per purchase, rolled up per user."""
    import numpy as np
    import pandas as pd  # noqa: F811

    from cid_etl_spark.operators.aggregates import adaptive_group_buckets
    from cid_etl_spark.operators.timeseries import MAX_GROUP_ROWS

    e = load_table(spark, sf_dir, "events", spread=False)
    # Adaptive bucket count (VERDICT r13 #1): the r13 fixed 64 meant a
    # fact-scale input blew past the per-frame Arrow bound (and the
    # int64 packing guard below) while capping the stage at 64 tasks;
    # sizing from the plan estimate keeps rows/n_buckets under the
    # frame bound at any input size.  Placement-only — the per-user
    # alignment inside each bucket is unchanged, so values never move.
    n_buckets = adaptive_group_buckets(e, MAX_GROUP_ROWS, floor=64)
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("__b")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", bucket
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", bucket
    )

    def align(key, cl: pd.DataFrame, pu: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "n_purchases": pd.Series([], dtype="int64"),
                "n_attributed": pd.Series([], dtype="int64"),
                "prior_clicks": pd.Series([], dtype="int64"),
            }
        )
        if len(pu) == 0:
            return empty
        pu_u = pu["user_id"].to_numpy()
        pt = pu["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        has_c = len(cl) > 0
        cu = cl["user_id"].to_numpy() if has_c else np.array([], dtype="int64")
        ct = (
            cl["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            if has_c
            else np.array([], dtype="int64")
        )
        horizon = 3_600_000_000  # 1 h in µs
        users = np.unique(np.concatenate([pu_u, cu]))
        t_lo = int(min(pt.min(), ct.min()) if has_c else pt.min()) - horizon - 1
        t_hi = int(max(pt.max(), ct.max()) if has_c else pt.max())
        span = t_hi - t_lo + 1
        if len(users) * span >= 1 << 63:  # python ints: no silent wrap
            raise ValueError(
                f"cogroup bucket packs {len(users)} users over a "
                f"{span} µs span — int64 key space exhausted; raise "
                "n_buckets (placement-only, never changes values)"
            )
        ci = np.searchsorted(users, cu)
        pi = np.searchsorted(users, pu_u)
        ck = np.sort(ci * span + (ct - t_lo)) if has_c else ct
        pk = pi * span + (pt - t_lo)
        lo = np.searchsorted(ck, pk - horizon, side="left")
        hi = np.searchsorted(ck, pk, side="left")
        n = (hi - lo).astype("int64")
        npur = np.bincount(pi, minlength=len(users))
        natt = np.bincount(
            pi, weights=(n > 0).astype("int64"), minlength=len(users)
        ).astype("int64")
        ncl = np.bincount(pi, weights=n, minlength=len(users)).astype("int64")
        mask = npur > 0
        return pd.DataFrame(
            {
                "user_id": users[mask].astype("int64"),
                "n_purchases": npur[mask].astype("int64"),
                "n_attributed": natt[mask],
                "prior_clicks": ncl[mask],
            }
        )

    return (
        clicks.groupBy("__b")
        .cogroup(purchases.groupBy("__b"))
        .applyInPandas(
            align,
            "user_id long, n_purchases long, n_attributed long, prior_clicks long",
        )
        .filter(F.col("n_purchases") > 0)
    )


_BINARYFILE_SQL = r"""
    SELECT doc_id,
           CAST(64 AS BIGINT) AS n_bytes,
           substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) AS head8
    FROM documents
    WHERE doc_id % 7 = 0
    """


@_register("binaryfile_ingest_roundtrip", _BINARYFILE_SQL)
def binaryfile_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL media-lake ingestion path: one file per asset on disk,
    read back through Spark's built-in ``binaryFile`` source (path,
    modificationTime, length, content) — the production entry point
    the multimodal suite's attach_fake_media stands in for.  The
    fixture stage materializes one file per sampled document (payload
    = sha256 hex of the id, name = the id), the reader parses the id
    back OUT of the file path with a codegen regexp, and the oracle
    recomputes payload length and head bytes from first principles —
    so a hash-match proves the bytes survived the filesystem
    round-trip intact.  At 100 TB the same reader fans out over object
    storage with `pathGlobFilter`/`recursiveFileLookup`; content bytes
    then feed the Arrow decode stages (decode_image_features,
    perceptual_hash_images) unchanged.

    The fixture files are written FROM THE EXECUTORS
    (``foreachPartition``) into the session's scratch dir
    (:func:`cid_etl_spark.session.scratch_dir`), which is driver-local
    only under a ``local[...]`` master and must be a shared mount
    anywhere else — the resolver refuses to guess.  In production the
    media lake already lives on shared/object storage and this fixture
    stage doesn't exist at all."""
    d = load_table(spark, sf_dir, "documents")
    media_dir = scratch_dir(spark, "binmedia", sf_dir)

    def _write_assets(rows):
        import hashlib as _hl
        import os as _os

        for r in rows:
            p = _os.path.join(media_dir, f"asset_{r.doc_id}.bin")
            if not _os.path.exists(p):
                tmp = f"{p}.tmp{_os.getpid()}"
                with open(tmp, "wb") as f:
                    f.write(
                        _hl.sha256(str(r.doc_id).encode()).hexdigest().encode("ascii")
                    )
                _os.replace(tmp, p)

    d.filter(F.col("doc_id") % 7 == 0).select("doc_id").foreachPartition(
        _write_assets
    )
    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(media_dir)
    )
    return bin_df.select(
        F.regexp_extract(F.col("path"), r"asset_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.decode(F.substring(F.col("content"), 1, 8), "UTF-8").alias("head8"),
    )


_REAL_PNG_SQL = r"""
    SELECT doc_id AS media_id,
           CAST(8 + doc_id % 32 AS INT) AS width,
           CAST(8 + doc_id % 16 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           printf('%.4f',
                  (0.299 * CAST(doc_id * 37 % 256 AS DOUBLE)
                   + 0.587 * CAST(doc_id * 59 % 256 AS DOUBLE)
                   + 0.114 * CAST(doc_id * 83 % 256 AS DOUBLE)) / 255.0)
             AS mean_luma
    FROM documents
    WHERE doc_id % 11 = 0
    """


@_register("media_real_png_decode", _REAL_PNG_SQL)
def media_real_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under a hard oracle — the round-3 upgrade of
    the 'weak-by-honesty' media stubs: the fixture stage writes one
    genuine PNG per sampled document FROM THE EXECUTORS (solid color,
    dimensions and RGB all pure functions of the doc id —
    multimodal.binary.encode_png_solid), the reader ingests them
    through Spark's binaryFile source, and decode_image_features runs
    the real codec path (the pure-stdlib zlib inflate + scanline
    unfilter) inside the Arrow mapInPandas stage.  The oracle recomputes width/height/channels
    AND the Rec.601 mean luma from the id formulas — a hash match
    therefore proves actual pixel-level decode (IHDR parse, inflate,
    unfilter, luma average), not plumbing."""
    media_dir = scratch_dir(spark, "realpng", sf_dir)

    def _write_pngs(rows):
        import os as _os

        from cid_etl_spark.multimodal.binary import encode_png_solid

        for r in rows:
            i = r.doc_id
            p = _os.path.join(media_dir, f"img_{i}.png")
            if not _os.path.exists(p):
                png = encode_png_solid(
                    8 + i % 32,
                    8 + i % 16,
                    (i * 37 % 256, i * 59 % 256, i * 83 % 256),
                )
                tmp = f"{p}.tmp{_os.getpid()}"
                with open(tmp, "wb") as f:
                    f.write(png)
                _os.replace(tmp, p)

    d = load_table(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") % 11 == 0).select("doc_id").foreachPartition(
        _write_pngs
    )

    from cid_etl_spark.multimodal.binary import decode_image_features

    bin_df = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.png").load(media_dir)
    )
    media = bin_df.select(
        F.regexp_extract(F.col("path"), r"img_(\d+)\.png$", 1)
        .cast("long")
        .alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/png").alias("mime"),
        F.col("content").alias("payload"),
        F.col("length").cast("long").alias("n_bytes"),
    )
    return decode_image_features(media)


_REAL_WAV_SQL = r"""
    SELECT doc_id AS media_id,
           CAST(list_extract([8000, 16000, 22050, 44100], CAST(doc_id % 4 AS INT) + 1)
                AS INT) AS sample_rate,
           CAST(400 + (doc_id % 37) * 8 AS BIGINT) AS n_samples,
           CAST((400 + (doc_id % 37) * 8) * 1000 AS BIGINT)
             // list_extract([8000, 16000, 22050, 44100], CAST(doc_id % 4 AS INT) + 1)
             AS duration_ms,
           printf('%.4f', (500 + (doc_id % 100) * 10) / 32768.0) AS rms
    FROM documents
    WHERE doc_id % 13 = 0
    """


@_register("media_real_wav_decode", _REAL_WAV_SQL)
def media_real_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under a hard oracle (WAV twin of
    media_real_png_decode): executor-side fixture WAVs — 16-bit mono
    square waves whose sample rate, frame count, and amplitude are
    pure functions of the doc id (encode_wav_square) — ingested via
    binaryFile and decoded by extract_audio_features' real codec path
    (stdlib ``wave``).  Constant |sample| makes the true RMS exactly
    amplitude/32768, so the oracle recomputes every output column from
    first principles; a hash match proves genuine RIFF header + PCM
    frame decode."""
    media_dir = scratch_dir(spark, "realwav", sf_dir)

    def _write_wavs(rows):
        import os as _os

        from cid_etl_spark.multimodal.binary import encode_wav_square

        rates = (8000, 16000, 22050, 44100)
        for r in rows:
            i = r.doc_id
            p = _os.path.join(media_dir, f"aud_{i}.wav")
            if not _os.path.exists(p):
                wav = encode_wav_square(
                    rates[i % 4], 400 + (i % 37) * 8, 500 + (i % 100) * 10
                )
                tmp = f"{p}.tmp{_os.getpid()}"
                with open(tmp, "wb") as f:
                    f.write(wav)
                _os.replace(tmp, p)

    d = load_table(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") % 13 == 0).select("doc_id").foreachPartition(
        _write_wavs
    )

    from cid_etl_spark.multimodal.binary import extract_audio_features

    bin_df = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.wav").load(media_dir)
    )
    media = bin_df.select(
        F.regexp_extract(F.col("path"), r"aud_(\d+)\.wav$", 1)
        .cast("long")
        .alias("media_id"),
        F.lit("audio").alias("kind"),
        F.lit("audio/wav").alias("mime"),
        F.col("content").alias("payload"),
        F.col("length").cast("long").alias("n_bytes"),
    )
    return extract_audio_features(media)


_AB_TEST_SQL = r"""
    WITH assign AS (
      SELECT user_id % 2 AS variant, value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events
    ), g AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n,
             avg(conv) AS cr,
             avg(value) AS mean_value,
             var_samp(value) AS var_value
      FROM assign GROUP BY variant
    ), w AS (
      SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
             max(CASE WHEN variant = 1 THEN n END) AS n1,
             max(CASE WHEN variant = 0 THEN cr END) AS cr0,
             max(CASE WHEN variant = 1 THEN cr END) AS cr1,
             max(CASE WHEN variant = 0 THEN mean_value END) AS m0,
             max(CASE WHEN variant = 1 THEN mean_value END) AS m1,
             max(CASE WHEN variant = 0 THEN var_value END) AS v0,
             max(CASE WHEN variant = 1 THEN var_value END) AS v1,
             (max(CASE WHEN variant = 0 THEN cr END) * max(CASE WHEN variant = 0 THEN n END)
              + max(CASE WHEN variant = 1 THEN cr END) * max(CASE WHEN variant = 1 THEN n END))
             / (max(CASE WHEN variant = 0 THEN n END) + max(CASE WHEN variant = 1 THEN n END)) AS p_pool
      FROM g
    )
    SELECT n0, n1,
           round(cr0, 6) AS cr0, round(cr1, 6) AS cr1,
           round((cr1 - cr0) / sqrt(p_pool * (1 - p_pool) * (1.0/n0 + 1.0/n1)), 4)
             AS conv_z,
           round((m1 - m0) / sqrt(v0/n0 + v1/n1), 4) AS value_z,
           abs((cr1 - cr0) / sqrt(p_pool * (1 - p_pool) * (1.0/n0 + 1.0/n1))) > 1.96
             AS conv_significant_95
    FROM w
    """


@_register("ab_test_events", _AB_TEST_SQL)
def ab_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout as one aggregation pass: deterministic
    variant assignment (user_id parity — in production a salted hash,
    same shape), then a two-proportion z-test on conversion and a
    Welch z on order value, pivoted to a single decision row.  The
    whole readout is two shuffles (per-variant moments, 1-row pivot) —
    no per-user state, no collect — which is why the same plan serves
    a 100 TB event log.  Moments (avg/var_samp) are the only floats
    and are rounded once at the decision edge; the oracle replays the
    identical pooled-variance arithmetic."""
    e = load_table(spark, sf_dir, "events")
    assign = e.select(
        (F.col("user_id") % 2).alias("variant"),
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    g = assign.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("conv").alias("cr"),
        F.avg("value").alias("mean_value"),
        F.var_samp("value").alias("var_value"),
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("cr"))).alias("cr0"),
        F.max(F.when(F.col("variant") == 1, F.col("cr"))).alias("cr1"),
        F.max(F.when(F.col("variant") == 0, F.col("mean_value"))).alias("m0"),
        F.max(F.when(F.col("variant") == 1, F.col("mean_value"))).alias("m1"),
        F.max(F.when(F.col("variant") == 0, F.col("var_value"))).alias("v0"),
        F.max(F.when(F.col("variant") == 1, F.col("var_value"))).alias("v1"),
    ).withColumn(
        "p_pool",
        (F.col("cr0") * F.col("n0") + F.col("cr1") * F.col("n1"))
        / (F.col("n0") + F.col("n1")),
    )
    conv_z = (F.col("cr1") - F.col("cr0")) / F.sqrt(
        F.col("p_pool")
        * (1 - F.col("p_pool"))
        * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    value_z = (F.col("m1") - F.col("m0")) / F.sqrt(
        F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")
    )
    return w.select(
        "n0",
        "n1",
        F.round("cr0", 6).alias("cr0"),
        F.round("cr1", 6).alias("cr1"),
        F.round(conv_z, 4).alias("conv_z"),
        F.round(value_z, 4).alias("value_z"),
        (F.abs(conv_z) > 1.96).alias("conv_significant_95"),
    )


_SESSION_PATHS_SQL = r"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM ordered
    ), paths AS (
      SELECT user_id, sess_id,
             array_to_string(list(event_type ORDER BY ts, event_id)[1:3], '>') AS path
      FROM sess GROUP BY user_id, sess_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """


@_register("top_session_paths", _SESSION_PATHS_SQL)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining over sessionized behavior: 30-minute-gap
    sessions (the same lag+cumsum sessionization sessionize_events
    uses), each session reduced to its first-3-event path, top-20
    paths ranked with a full tie-break.  The path build is
    collect+sort WITHIN a (user, session) group — bounded by session
    length, never by user history — and the ranking is a
    TakeOrderedAndProject heap, so the plan holds on a 100 TB event
    log where per-user state would not.  Path strings make funnel
    anomalies legible ('view>view>purchase' vs 'error>error>error')."""
    from cid_etl_spark.plans.fragments import user_event_seq

    seq = user_event_seq(spark, sf_dir)
    prev_ts = F.col("prev_ts")
    new_sess = F.when(
        prev_ts.isNull()
        | (
            F.unix_micros(F.col("ts").cast("timestamp_ltz"))
            - F.unix_micros(prev_ts.cast("timestamp_ltz"))
            > 1_800_000_000
        ),
        1,
    ).otherwise(0)
    sess = seq.select(
        "user_id", "ts", "event_id", "event_type", new_sess.alias("__new")
    ).withColumn(
        "sess_id",
        F.sum("__new").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    paths = (
        sess.groupBy("user_id", "sess_id")
        .agg(
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda s: s.getField("event_type"),
                    ),
                    1,
                    3,
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


_DEDUP_RATE_SQL = r"""
    WITH h AS (
      SELECT source,
             md5(array_to_string(
                 string_split_regex(lower(trim(text)), '\s+')[1:10], ' ')) AS hh
      FROM documents WHERE length(trim(text)) > 0
    ), g AS (
      SELECT source, hh, CAST(count(*) AS BIGINT) AS c
      FROM h GROUP BY source, hh
    ), spread AS (
      SELECT hh, CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM h GROUP BY hh
    )
    SELECT g.source,
           CAST(sum(g.c) AS BIGINT) AS n_docs,
           CAST(sum(g.c) - count(*) AS BIGINT) AS n_redundant,
           round(CAST(sum(g.c) - count(*) AS DOUBLE) / sum(g.c), 6) AS dup_rate,
           CAST(sum(CASE WHEN s.n_sources > 1 THEN g.c ELSE 0 END) AS BIGINT)
             AS n_cross_source
    FROM g JOIN spread s USING (hh)
    GROUP BY g.source
    """


@_register("dedup_rate_by_source", _DEDUP_RATE_SQL)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: per ingestion source, how much of the feed
    is redundant (same first-10-token head fingerprint within the
    source — the repost-family key headdup_keep_longest survives by)
    and how much is syndicated (fingerprint shared with ANOTHER
    source) — the report that decides which feeds are worth
    re-crawling and which near-dup thresholds matter.  Two
    fingerprint-keyed shuffles with map-side combine (hash groups,
    then the cross-source spread joined back on the same 16-byte key —
    layout left to AQE, since spread cardinality is the distinct-head
    count and grows with the corpus); never materializes a pair, and
    the shuffle carries 16-byte keys, never the text."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    h = d.select(
        "source", F.md5(F.array_join(F.slice(tokens("text"), 1, 10), " ")).alias("hh")
    )
    g = h.groupBy("source", "hh").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    spread = h.groupBy("hh").agg(
        F.count_distinct("source").cast("bigint").alias("n_sources")
    )
    return (
        g.join(spread, "hh")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            (F.sum("c") - F.count(F.lit(1))).cast("bigint").alias("n_redundant"),
            F.round(
                (F.sum("c") - F.count(F.lit(1))).cast("double") / F.sum("c"), 6
            ).alias("dup_rate"),
            F.sum(F.when(F.col("n_sources") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_cross_source"),
        )
    )


_MAD_OUTLIERS_SQL = r"""
    WITH med AS (
      SELECT user_id, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY user_id
    ), dev AS (
      SELECT e.user_id, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (user_id)
    ), mad AS (
      SELECT user_id, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY user_id
    )
    SELECT d.user_id,
           round(max(d.med), 6) AS median_value,
           round(max(m.mad), 6) AS mad,
           CAST(count(*) FILTER (
             d.adev > 3 * 1.4826 * m.mad AND m.mad > 0
           ) AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n_events
    FROM dev d JOIN mad m USING (user_id)
    GROUP BY d.user_id
    """


@_register("mad_outliers_events", _MAD_OUTLIERS_SQL)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier detection via MAD (median absolute
    deviation): the z-score suite's mean/stddev (zscore_outliers_events)
    is itself dragged by the outliers it hunts; median ± 3·1.4826·MAD
    is the robust version monitoring pipelines actually deploy.  Two
    grouped exact-percentile passes (user-keyed shuffles) with the
    per-user medians broadcast back between them — per-key state is
    one user's values, same bound every grouped pass here carries."""
    e = load_table(spark, sf_dir, "events").select("user_id", "value")
    med = e.groupBy("user_id").agg(F.percentile("value", 0.5).alias("med"))
    dev = e.join(F.broadcast(med), "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "user_id")
        .groupBy("user_id")
        .agg(
            F.round(F.max("med"), 6).alias("median_value"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.count_if(
                (F.col("adev") > 3 * 1.4826 * F.col("mad")) & (F.col("mad") > 0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )


_SEASONAL_MAPE_SQL = r"""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1
    ), f AS (
      SELECT month, revenue,
             lag(revenue, 12) OVER (ORDER BY month) AS forecast
      FROM m
    )
    SELECT CAST(count(*) AS BIGINT) AS n_months,
           round(avg(abs(revenue - forecast) / revenue), 6) AS mape,
           round(avg((forecast - revenue) / revenue), 6) AS bias
    FROM f WHERE forecast IS NOT NULL
    """


@_register("seasonal_naive_mape_orders", _SEASONAL_MAPE_SQL)
def seasonal_naive_mape_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy evaluation: seasonal-naive (same month last
    year) against monthly revenue, scored by MAPE and signed bias —
    the baseline every demand-forecast model must beat, and the shape
    of any backtest harness (build series → lag-join forecast →
    error rollup).  Revenue is exact-decimal before the one terminal
    rounding; the series is months (tiny), so the lag window's single
    partition is the right plan, not a scale bug.  The month rollup
    is the canonical ``monthly_order_stats`` fragment (round 9):
    standalone, Catalyst prunes it to the old (month, revenue)
    aggregate; in a batch the monthly family folds the fact once."""
    from cid_etl_spark.plans.fragments import monthly_order_stats

    m = monthly_order_stats(spark, sf_dir).select("month", "revenue")
    w = Window.orderBy("month")
    f = m.withColumn("forecast", F.lag("revenue", 12).over(w)).filter(
        F.col("forecast").isNotNull()
    )
    return f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.round(
            F.avg(F.abs(F.col("revenue") - F.col("forecast")) / F.col("revenue")), 6
        ).alias("mape"),
        F.round(
            F.avg((F.col("forecast") - F.col("revenue")) / F.col("revenue")), 6
        ).alias("bias"),
    )


_SCHEMA_EVOLUTION_SQL = r"""
    WITH unioned AS (
      SELECT doc_id, lang, n_chars, NULL AS quality_score
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, lang, n_chars,
             round(1.0 / (1.0 + exp(-(n_chars % 100 - 50) / 25.0)), 6)
               AS quality_score
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(quality_score) AS BIGINT) AS n_scored,
           round(avg(quality_score), 6) AS avg_score
    FROM unioned GROUP BY lang
    """


@_register("schema_evolution_roundtrip", _SCHEMA_EVOLUTION_SQL)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake schema evolution, driver-visible: batch 1 lands WITHOUT a
    quality_score column, batch 2 (a later pipeline version) lands
    WITH it; ``mergeSchema`` reads both generations as one table where
    the old rows carry NULL — the add-a-column migration every
    long-lived lake performs, proven lossless by a rollup that counts
    scored vs total rows per language against an oracle that
    reconstructs the union from first principles.  Columnar formats
    make this a metadata operation (no rewrite of batch 1); the score
    itself is a deterministic logistic of n_chars so both engines
    replay it."""
    import os

    d = load_table(spark, sf_dir, "documents")
    base = scratch_dir(spark, "evolve", sf_dir)
    v1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
    v2 = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        "n_chars",
        F.round(
            1.0
            / (
                1.0
                + F.exp(-((F.col("n_chars") % 100).cast("double") - 50) / 25.0)
            ),
            6,
        ).alias("quality_score"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "batch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "batch=1"), os.path.join(base, "batch=2")
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count("quality_score").cast("bigint").alias("n_scored"),
        F.round(F.avg("quality_score"), 6).alias("avg_score"),
    )


_COMPACTION_SQL = r"""
    WITH r AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, total_chars,
           CAST(64 AS INTEGER) AS files_before,
           CAST(4 AS INTEGER) AS files_after
    FROM r
    """


@_register("compaction_roundtrip", _COMPACTION_SQL)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, the lake-maintenance job that keeps scan
    parallelism sane: a fragmented landing zone (64 shuffle-written
    part files) is rewritten into 4 right-sized files via coalesce
    (narrow — no shuffle to compact), and the per-language rollup over
    the compacted copy must equal the source.  The file counts
    BEFORE/AFTER ride in the result row against oracle CONSTANTS, so
    a planner change that silently alters the written layout (or a
    compaction that loses rows) hash-mismatches.  At 100 TB the same
    job runs per partition-directory with a target-bytes heuristic
    instead of a fixed 4."""
    import os

    d = load_table(spark, sf_dir, "documents")
    base = scratch_dir(spark, "compact", sf_dir)
    frag_dir = os.path.join(base, "fragmented")
    tidy_dir = os.path.join(base, "compacted")
    d.repartition(64).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    files_before = len([f for f in os.listdir(frag_dir) if f.endswith(".parquet")])
    frag.coalesce(4).write.mode("overwrite").parquet(tidy_dir)
    files_after = len([f for f in os.listdir(tidy_dir) if f.endswith(".parquet")])
    tidy = spark.read.parquet(tidy_dir)
    return tidy.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    ).select(
        "lang",
        "n_docs",
        "total_chars",
        F.lit(files_before).cast("int").alias("files_before"),
        F.lit(files_after).cast("int").alias("files_after"),
    )


_ARROW_UDF_SQL = r"""
    SELECT doc_id, lang, n_chars,
           greatest(1, CAST(floor(
             (n_chars / 5.0) / CASE lang
                WHEN 'en' THEN 250.0 WHEN 'de' THEN 200.0
                WHEN 'fr' THEN 220.0 WHEN 'es' THEN 230.0
                ELSE 210.0 END
             + 0.5
           ) AS BIGINT)) AS reading_minutes
    FROM documents
    """


@_register("arrow_udf_reading_time", _ARROW_UDF_SQL)
def arrow_udf_reading_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED scalar Python UDF (``@udf(useArrow=True)``,
    Spark 4): the §2.9 middle tier between JVM Column expressions and
    pandas_udf — same ``@udf`` ergonomics, but arguments arrive as
    Arrow-backed batches instead of per-row pickled objects (~2-5×
    over legacy pickled UDFs; still below built-ins, which is why the
    engine reserves the tier for logic that genuinely needs Python).
    The logic here (per-language words-per-minute reading-time
    estimate) is deliberately SQL-replayable so the oracle can certify
    the Arrow serialization path end-to-end — a broken Arrow cast or
    None-handling difference flips rows and hash-mismatches."""
    from pyspark.sql.functions import udf

    wpm = {"en": 250.0, "de": 200.0, "fr": 220.0, "es": 230.0}

    @udf("bigint", useArrow=True)
    def reading_minutes(n_chars: int, lang: str) -> int:
        words = (n_chars or 0) / 5.0
        # explicit half-up on both sides: Python round() is banker's,
        # DuckDB round() is half-away — floor(x + 0.5) agrees everywhere
        return max(1, int(words / wpm.get(lang, 210.0) + 0.5))

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", "n_chars",
        reading_minutes("n_chars", "lang").alias("reading_minutes"),
    )


_DP_NOISE_SQL = r"""
    WITH g AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS true_count
      FROM documents GROUP BY lang
    ), u AS (
      SELECT lang, true_count,
             ('0x' || substr(md5('dp|' || lang), 1, 7))::BIGINT
               / 268435456.0 AS uu
      FROM g
    )
    SELECT lang, true_count,
           round(CASE WHEN uu >= 0.5 THEN -ln(1 - 2 * (uu - 0.5))
                      ELSE ln(1 - 2 * (0.5 - uu)) END, 4) AS laplace_noise,
           round(true_count + CASE WHEN uu >= 0.5 THEN -ln(1 - 2 * (uu - 0.5))
                                   ELSE ln(1 - 2 * (0.5 - uu)) END, 4)
             AS released_count
    FROM u
    """


@_register("dp_noised_counts", _DP_NOISE_SQL)
def dp_noised_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release MECHANISM (Laplace, ε=1,
    sensitivity 1 for a count): per-language counts released with
    inverse-CDF Laplace noise.  The uniform draw is DETERMINISTIC
    (md5 of the group key) — which makes this a verification harness
    for the mechanism's arithmetic, NOT a private release (real DP
    requires fresh randomness per release; swap the md5 uniform for a
    CSPRNG draw and nothing else changes).  Pairs with
    pseudonymize_events and gdpr_erasure_cascade as the privacy
    toolchain; one group-by pass, noise is a scalar expression, and
    the oracle replays the inverse CDF exactly."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    uu = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dp|"), F.col("lang"))), 1, 7), 16, 10)
        .cast("double")
        / F.lit(268435456.0)
    )
    noise = F.when(
        uu >= 0.5, -F.log(1 - 2 * (uu - F.lit(0.5)))
    ).otherwise(F.log(1 - 2 * (F.lit(0.5) - uu)))
    return g.select(
        "lang",
        "true_count",
        F.round(noise, 4).alias("laplace_noise"),
        F.round(F.col("true_count") + noise, 4).alias("released_count"),
    )


_CONSEC_COLLAPSE_SQL = r"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (prev_type IS NULL OR event_type <> prev_type)
                AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (event_type = prev_type) AS BIGINT) AS n_collapsed
    FROM seq GROUP BY user_id
    """


@_register("consecutive_dup_collapse", _CONSEC_COLLAPSE_SQL)
def consecutive_dup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry run-length dedup: collapse CONSECUTIVE repeats of the
    same event type per user (button mashes, retry storms, sensor
    stutter) while keeping non-adjacent recurrences — the semantic
    neither exact dedup (kills all repeats) nor sessionization
    provides.  One lag window over the user-keyed shuffle; the report
    counts kept vs collapsed per user.  The (ts, event_id) tiebreak
    makes the survivor set engine-deterministic.  The sequence pass
    comes from the canonical ``user_event_seq`` fragment (r8); solo,
    Catalyst prunes the fragment's other neighbor columns."""
    from cid_etl_spark.plans.fragments import user_event_seq

    seq = user_event_seq(spark, sf_dir).select(
        "user_id", "event_type", "prev_type"
    )
    keep = F.col("prev_type").isNull() | (
        F.col("event_type") != F.col("prev_type")
    )
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_if(keep).cast("bigint").alias("n_kept"),
        F.count_if(F.col("event_type") == F.col("prev_type"))
        .cast("bigint")
        .alias("n_collapsed"),
    )


_SOURCE_SIMILARITY_SQL = r"""
    WITH tok AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ), tf AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, token
    ), tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM tf GROUP BY source
    ), shared AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(sum(least(a.c, b.c)) AS BIGINT) AS sum_min
      FROM tf a JOIN tf b ON a.token = b.token AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT s.src_a, s.src_b,
           round(CAST(s.sum_min AS DOUBLE)
                 / (ta.tot + tb.tot - s.sum_min), 6) AS weighted_jaccard
    FROM shared s
    JOIN tot ta ON s.src_a = ta.source
    JOIN tot tb ON s.src_b = tb.source
    ORDER BY weighted_jaccard DESC, src_a, src_b
    LIMIT 10
    """


@_register("source_similarity_weighted_jaccard", _SOURCE_SIMILARITY_SQL)
def source_similarity_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition similarity: weighted Jaccard
    Σmin(tfₐ, tf_b) / Σmax over source-level token-frequency vectors,
    top-10 most similar source pairs — the diagnostic that finds feeds
    crawling the same upstream (candidates for mixture de-weighting).
    Work is keyed on the TOKEN (pairs materialize only where vectors
    overlap, like the shingle inverted index), Σmax folds to
    totₐ+tot_b−Σmin so no outer join is needed, and the per-source
    totals broadcast back over the pair rollup.  The final top-10 is
    a heap, not a sort.  The explode is the canonical ``token_stream``
    fragment (round 9: the subtree sweep caught this query re-deriving
    it with only the companion column differing; standalone, Catalyst
    prunes the stream back to (source, tok))."""
    from cid_etl_spark.plans.fragments import token_stream

    tf = (
        token_stream(spark, sf_dir)
        .select("source", F.col("tok").alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = tf.groupBy("source").agg(F.sum("c").cast("bigint").alias("tot"))
    a = tf.select(
        F.col("source").alias("src_a"), "token", F.col("c").alias("ca")
    )
    b = tf.select(
        F.col("source").alias("src_b"), "token", F.col("c").alias("cb")
    )
    shared = (
        a.join(b, "token")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.least("ca", "cb")).cast("bigint").alias("sum_min"))
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("tot").alias("tot_a"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("tot").alias("tot_b"))
    return (
        shared.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(
                F.col("sum_min").cast("double")
                / (F.col("tot_a") + F.col("tot_b") - F.col("sum_min")),
                6,
            ).alias("weighted_jaccard"),
        )
        .orderBy(F.desc("weighted_jaccard"), "src_a", "src_b")
        .limit(10)
    )


_QUARANTINE_SQL = r"""
    WITH judged AS (
      SELECT doc_id, lang, n_chars,
             (length(trim(text)) > 0) AS nonempty,
             (n_chars = length(text)) AS length_consistent,
             (lang IN ('en', 'de', 'fr', 'es', 'pt')) AS lang_known
      FROM documents
    )
    SELECT CASE WHEN nonempty AND length_consistent AND lang_known
                THEN 'valid' ELSE 'quarantine' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (NOT nonempty) AS BIGINT) AS r_empty,
           CAST(count(*) FILTER (NOT length_consistent) AS BIGINT) AS r_length,
           CAST(count(*) FILTER (NOT lang_known) AS BIGINT) AS r_lang
    FROM judged GROUP BY 1
    """


@_register("quarantine_split_roundtrip", _QUARANTINE_SQL)
def quarantine_split_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract-gated ingestion with a QUARANTINE lane: every record is
    judged against the data contract (non-empty text, n_chars
    consistent with the payload, known language) and physically routed
    — valid rows to the serving directory, violators to a quarantine
    directory WITH their failure flags for triage — then both lanes
    are read back and the per-lane census (including per-rule
    violation counts) must match the oracle's first-principles
    judgment, proving the split is total and lossless.  One scan, one
    partitioned write (bucket is the partition column, so each lane
    prunes to its own directory), zero joins; the same gate in front
    of a 100 TB feed is what keeps one malformed batch from poisoning
    the lake."""
    d = load_table(spark, sf_dir, "documents")
    judged = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (F.length(F.trim(F.col("text"))) > 0).alias("nonempty"),
        (F.col("n_chars") == F.length("text")).alias("length_consistent"),
        F.col("lang").isin("en", "de", "fr", "es", "pt").alias("lang_known"),
    ).withColumn(
        "bucket",
        F.when(
            F.col("nonempty") & F.col("length_consistent") & F.col("lang_known"),
            "valid",
        ).otherwise("quarantine"),
    )
    base = scratch_dir(spark, "quarantine", sf_dir)
    judged.write.mode("overwrite").partitionBy("bucket").parquet(base)
    back = spark.read.parquet(base)
    return back.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_if(~F.col("nonempty")).cast("bigint").alias("r_empty"),
        F.count_if(~F.col("length_consistent")).cast("bigint").alias("r_length"),
        F.count_if(~F.col("lang_known")).cast("bigint").alias("r_lang"),
    )


_AB_FUNNEL_SQL = r"""
    WITH assign AS (
      SELECT user_id % 2 AS variant, user_id, event_type, ts FROM events
    ), v AS (
      SELECT variant, user_id, min(ts) AS vts
      FROM assign WHERE event_type = 'view' GROUP BY variant, user_id
    ), c AS (
      SELECT a.variant, a.user_id, min(a.ts) AS cts
      FROM assign a JOIN v ON a.variant = v.variant AND a.user_id = v.user_id
      WHERE a.event_type = 'click' AND a.ts > v.vts
      GROUP BY a.variant, a.user_id
    ), p AS (
      SELECT a.variant, a.user_id
      FROM assign a JOIN c ON a.variant = c.variant AND a.user_id = c.user_id
      WHERE a.event_type = 'purchase' AND a.ts > c.cts
      GROUP BY a.variant, a.user_id
    )
    SELECT v.variant,
           CAST(count(DISTINCT v.user_id) AS BIGINT) AS n_view,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_click_after_view,
           CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_purchase_after_click,
           round(CAST(count(DISTINCT p.user_id) AS DOUBLE)
                 / count(DISTINCT v.user_id), 6) AS full_funnel_rate
    FROM v
    LEFT JOIN c ON v.variant = c.variant AND v.user_id = c.user_id
    LEFT JOIN p ON v.variant = p.variant AND v.user_id = p.user_id
    GROUP BY v.variant
    """


@_register("ab_funnel_lift", _AB_FUNNEL_SQL)
def ab_funnel_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel × experiment variant: per variant, users who
    viewed, then clicked strictly AFTER their first view, then
    purchased strictly after that first qualifying click — the
    composition an experimentation platform reads daily (ab_test_events
    gives the significance machinery; this gives the step-ordered
    conversion it tests).  Three aggregates all keyed on (variant,
    user) so one hash partitioning serves every step; no window, no
    event-pair self-join."""
    e = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("variant"), "user_id", "event_type", "ts"
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("variant", "user_id")
        .agg(F.min("ts").alias("vts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, ["variant", "user_id"])
        .filter(F.col("ts") > F.col("vts"))
        .groupBy("variant", "user_id")
        .agg(F.min("ts").alias("cts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, ["variant", "user_id"])
        .filter(F.col("ts") > F.col("cts"))
        .select("variant", "user_id")
        .distinct()
    )
    cj = c.select("variant", "user_id").withColumn("__c", F.lit(1))
    pj = p.withColumn("__p", F.lit(1))
    return (
        v.join(cj, ["variant", "user_id"], "left")
        .join(pj, ["variant", "user_id"], "left")
        .groupBy("variant")
        .agg(
            F.count_distinct("user_id").cast("bigint").alias("n_view"),
            F.count_distinct(F.when(F.col("__c") == 1, F.col("user_id")))
            .cast("bigint")
            .alias("n_click_after_view"),
            F.count_distinct(F.when(F.col("__p") == 1, F.col("user_id")))
            .cast("bigint")
            .alias("n_purchase_after_click"),
            F.round(
                F.count_distinct(F.when(F.col("__p") == 1, F.col("user_id")))
                .cast("double")
                / F.count_distinct("user_id"),
                6,
            ).alias("full_funnel_rate"),
        )
    )


_ANOMALY_MONTHS_SQL = r"""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1
    ), f AS (
      SELECT month, revenue,
             lag(revenue, 12) OVER (ORDER BY month) AS forecast
      FROM m
    ), r AS (
      SELECT month, revenue, forecast, revenue - forecast AS residual
      FROM f WHERE forecast IS NOT NULL
    ), stats AS (
      SELECT avg(residual) AS mu, stddev_samp(residual) AS sd FROM r
    )
    SELECT r.month, r.revenue, r.forecast,
           round(r.residual, 2) AS residual,
           round((r.residual - s.mu) / s.sd, 4) AS residual_z,
           (abs((r.residual - s.mu) / s.sd) > 2.0) AS is_anomaly
    FROM r, stats s
    """


@_register("anomaly_months_orders", _ANOMALY_MONTHS_SQL)
def anomaly_months_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection on the revenue series: residuals
    against the seasonal-naive forecast (same month last year),
    z-scored against the residual distribution, |z| > 2 flagged — the
    'which months broke pattern' report that pairs with
    seasonal_naive_mape_orders' aggregate accuracy.  The series is
    months, so the lag window's single partition is the right plan;
    the 1-row residual stats broadcast back over the series.  The
    month rollup is the canonical ``monthly_order_stats`` fragment
    (round 9): standalone, Catalyst prunes it to the old (month,
    revenue) aggregate; in a batch the monthly family folds the fact
    once."""
    from cid_etl_spark.plans.fragments import monthly_order_stats

    m = monthly_order_stats(spark, sf_dir).select("month", "revenue")
    w = Window.orderBy("month")
    r = (
        m.withColumn("forecast", F.lag("revenue", 12).over(w))
        .filter(F.col("forecast").isNotNull())
        .withColumn("residual", F.col("revenue") - F.col("forecast"))
    )
    stats = r.agg(
        F.avg("residual").alias("mu"), F.stddev_samp("residual").alias("sd")
    )
    z = (F.col("residual") - F.col("mu")) / F.col("sd")
    return r.join(F.broadcast(stats)).select(
        "month",
        "revenue",
        "forecast",
        F.round("residual", 2).alias("residual"),
        F.round(z, 4).alias("residual_z"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


_PEAK_TRANSIT_SQL = r"""
    WITH pts AS (
      SELECT l_suppkey, l_shipdate AS d, 1 AS delta FROM lineitem
      UNION ALL
      SELECT l_suppkey,
             l_shipdate + to_days(CAST(l_partkey % 30 + 1 AS INTEGER)) AS d,
             -1 AS delta
      FROM lineitem
    ), swept AS (
      SELECT l_suppkey,
             sum(delta) OVER (
               PARTITION BY l_suppkey
               ORDER BY d, delta DESC
               ROWS UNBOUNDED PRECEDING
             ) AS concurrent
      FROM pts
    )
    SELECT l_suppkey,
           CAST(max(concurrent) AS BIGINT) AS peak_in_transit
    FROM swept GROUP BY l_suppkey
    ORDER BY peak_in_transit DESC, l_suppkey
    LIMIT 25
    """


@_register("peak_transit_concurrency", _PEAK_TRANSIT_SQL)
def peak_transit_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: each shipment contributes +1
    at ship and −1 at receipt (receipt synthesized as shipdate +
    1..30 days from the part key — the fixture carries no receipt
    column), and the running sum's maximum is the
    peak number of simultaneously-in-transit shipments per supplier —
    the capacity-planning number an interval self-join would compute
    at O(n²).  The window is PARTITIONED by supplier (sweep state is
    one supplier's timeline, never the global event stream), deltas
    order -1-after-+1 on date ties via ``delta DESC`` so a same-day
    ship+receipt counts as overlapping in both engines, and the top-25
    is a heap."""
    li = load_table(spark, sf_dir, "lineitem")
    # l_shipdate is a µs timestamp: add WHOLE-DAY intervals (date_add
    # would truncate to DATE and change the union's column type)
    receipt = F.timestamp_add(
        "DAY", (F.col("l_partkey") % 30 + 1).cast("int"), F.col("l_shipdate")
    )
    pts = li.select(
        "l_suppkey", F.col("l_shipdate").alias("d"), F.lit(1).alias("delta")
    ).unionAll(
        li.select("l_suppkey", receipt.alias("d"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(F.col("d"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = pts.withColumn("concurrent", F.sum("delta").over(w))
    return (
        swept.groupBy("l_suppkey")
        .agg(F.max("concurrent").cast("bigint").alias("peak_in_transit"))
        .orderBy(F.desc("peak_in_transit"), "l_suppkey")
        .limit(25)
    )


_CONVERSION_TIME_SQL = r"""
    WITH v AS (
      SELECT user_id, min(ts) AS vts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS pts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.vts
      GROUP BY e.user_id
    ), d AS (
      SELECT v.user_id,
             CAST(epoch(p.pts) - epoch(v.vts) AS DOUBLE) / 3600.0 AS hours
      FROM v JOIN p ON v.user_id = p.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converters,
           round(quantile_cont(hours, 0.5), 4) AS p50_hours,
           round(quantile_cont(hours, 0.9), 4) AS p90_hours,
           round(quantile_cont(hours, 0.99), 4) AS p99_hours
    FROM d
    """


@_register("conversion_time_percentiles", _CONVERSION_TIME_SQL)
def conversion_time_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: hours from a user's first view to
    their first subsequent purchase, summarized as exact p50/p90/p99 —
    the latency-shaped readout (long tails decide remarketing windows)
    that complements the funnel's step counts.  Two (user)-keyed
    aggregates reusing one partitioning, then a single exact-percentile
    pass over the converter set; epoch math routes through
    timestamp_ltz so both engines agree on the naive-timestamp
    subtraction."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("vts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    hours = (
        F.col("pts").cast("timestamp_ltz").cast("double")
        - F.col("vts").cast("timestamp_ltz").cast("double")
    ) / 3600.0
    d = v.join(p, "user_id").select(hours.alias("hours"))
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converters"),
        F.round(F.percentile("hours", 0.5), 4).alias("p50_hours"),
        F.round(F.percentile("hours", 0.9), 4).alias("p90_hours"),
        F.round(F.percentile("hours", 0.99), 4).alias("p99_hours"),
    )


