"""Hashed-feature linear text classifier (fastText-style inference).

Model-based quality filtering is the step between heuristic filters
(functions.text.quality_score) and an external ML serving stack: a
linear model over hashed bag-of-words features, applied corpus-wide.
At 100 TB this is the common production shape — fastText / logistic
quality and toxicity filters are linear scorers whose inference is a
sparse dot product, which Spark evaluates entirely inside whole-stage
codegen when the weight lookup is an arithmetic function of the
feature hash (no UDF, no model file broadcast, no shuffle: the whole
operator is map-only and scales linearly with the scan).

Weights here are DERIVED from the feature hash itself via a Knuth
multiplicative mix — a stand-in for a trained weight table that keeps
the operator fully engine-replicable (the DuckDB oracle replays
hashing, bucketing, mixing, and the logistic link bit-for-bit).  With
a real model, swap ``_bucket_weight`` for a broadcast map lookup
(``F.element_at(weight_map, bucket)``); every other line is unchanged.

Integer-first arithmetic: per-token weights are INTEGERS in
[-HALF, +HALF] and the document margin is an exact integer sum —
float enters only in the final logistic, so cross-engine float
associativity can never flip a rounded score.

Reference scope: the reference repo (judson-fluap/cid-etl) has no ML
scoring; this is a north-star extension for LLM training-data
curation pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cid_etl_spark.functions.text import tokens
from cid_etl_spark.operators.dedup import md5_base_hash

#: Number of hash buckets (feature-space dimensionality).
BUCKETS = 4096
#: Weight magnitude bound: integer weights lie in [-HALF, HALF].
HALF = 2048
#: Knuth multiplicative constant for the bucket → weight mix.
MIX = 2654435761
#: Logistic temperature applied to the mean normalized weight.
ALPHA = 4.0


def _token_bucket(tok: Column) -> Column:
    """Feature hash bucket: the 28-bit md5-prefix hash mod BUCKETS
    (engine-replicable)."""
    return md5_base_hash(tok) % BUCKETS


def _bucket_weight(bucket: Column) -> Column:
    """Deterministic integer weight in [-HALF, HALF] for a bucket:
    Knuth multiplicative mix then center.  Stand-in for a trained
    weight table (see module docstring)."""
    return (bucket * F.lit(MIX)) % (2 * HALF + 1) - F.lit(HALF)


def quality_classifier(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passthrough: "tuple[str, ...]" = (),
) -> DataFrame:
    """Score every document with the hashed linear classifier.

    Emits ``(id_col, n_tokens, margin, quality_score, keep)`` where
    ``margin`` is the exact integer weight sum, ``quality_score`` is
    ``sigmoid(ALPHA * margin / (n_tokens * HALF))`` rounded to 6
    digits, and ``keep`` requires a non-empty document scoring ≥ 0.5.

    *passthrough* columns of *df* are appended verbatim, so a caller
    can carry labels or metadata through the scoring projection
    without a second scan + re-join (round 11: the calibration audit).

    Map-only: tokenize → hash → weight → sum are all Column
    expressions; no shuffle, no Python, no model broadcast.
    """
    toks = tokens(text_col)
    w = F.transform(toks, lambda t: _bucket_weight(_token_bucket(t)))
    margin = F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + x)
    n = F.size(toks)
    score = F.round(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(
                -F.lit(ALPHA)
                * (margin.cast("double") / (n.cast("double") * F.lit(float(HALF))))
            )
        ),
        6,
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        margin.alias("margin"),
        F.when(n > 0, score).otherwise(F.lit(0.5)).alias("quality_score"),
        ((n > 0) & (F.when(n > 0, score).otherwise(F.lit(0.5)) >= 0.5)).alias("keep"),
        *[F.col(c) for c in passthrough],
    )
