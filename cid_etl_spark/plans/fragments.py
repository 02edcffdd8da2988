"""Canonical shared plan fragments for multi-query batches (SURVEY §7,
rounds 7-8).

Cross-query reuse needs no plan rewriting, only that the queries
build their hot intermediates through ONE shared helper: inside a
batch the helper returns a scan of the fragment's materialized copy,
and batch-time derivation matches ad-hoc members by CANONICALIZED
subtree (identical construction ⇒ identical canonical plan).  Probe #7
(BASELINE.md table; the probe script is in commit 9bd0d2c) fixed the
design point:

- caching the bare ``documents`` scan is a measured NEGATIVE (0.89× —
  a codegen parquet scan with pushdown beats the row cache), so no
  fragment here is a bare table scan;
- the recompute worth sharing is the EXPENSIVE fragments: the exploded
  token stream and the per-document term rollup, re-derived today by
  every token query (measured 1.36× from sharing the explode alone
  across four consumers).

Standalone behavior is unchanged by construction: outside a batch,
Catalyst prunes each consumer's unused fragment columns and
pushes its filters through the fragment's aggregate keys, so each
query's solo plan keeps its pre-refactor shape (pinned by
tests/test_plans.py).  ``cid_etl_spark.plans.batch.run_batch`` writes
the fragments with ≥2 uses to scratch parquet for the batch's lifetime.

Batch context (round 8, ADVICE r7 #1/#3): the batch's overrides
used to live in a process-global dict, which (a) leaked scratch-parquet
plans into standalone queries built concurrently with a batch and (b)
made the overlapping-batch guard a non-atomic check-then-set.  They now
live in a :class:`BatchContext` installed per-THREAD by ``run_batch``
(the batch's own worker threads and nothing else see it), so standalone
plans are untouched by in-flight batches and two concurrent batches are
isolated by construction — each materializes into its own scratch dir.
The context also memoizes DERIVED rollups (:func:`shared_scan`): plan
subtrees like the bucket helpers' percentile edge rollup materialize
once per canonical plan and every consumer branch scans the copy.
"""

from __future__ import annotations

import hashlib
import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cid_etl_spark.functions.text import tokens
from cid_etl_spark.sources.parquet import load_table


class _BuildFailed:
    """Memo sentinel for a derived rollup whose build raised: waiters
    re-raise the ORIGINAL exception instead of a masking KeyError."""

    __slots__ = ("exc",)

    def __init__(self, exc: BaseException):
        self.exc = exc


class BatchContext:
    """Materialization state for one in-flight ``run_batch`` call:
    the scratch dir, the pre-materialized fragment paths, and a
    memo of derived rollups written on demand by :func:`shared_scan`.
    Thread-safe: members run concurrently and may race to derive the
    same rollup; a per-key event makes the first builder write while
    the rest wait for the path."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        scratch: str,
        derived_enabled: bool = True,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.scratch = scratch
        #: Whether :func:`shared_scan` may materialize DERIVED rollups.
        #: run_batch disables it for strictly-serial batches: an eager
        #: rollup write serializes work that the lazy plan overlaps
        #: inside one job (bucket-family ladder: serial materialize
        #: 23.7 s vs 17.3 s sequential, while CONCURRENT materialize
        #: wins at 8.8 s — the write only pays when other members fill
        #: the cores it briefly leaves idle).
        self.derived_enabled = derived_enabled
        #: fragment name → parquet path (set by run_batch up front).
        self.fragment_paths: dict[str, str] = {}
        #: fixture table name → catalog name of this batch's BUCKETED
        #: copy (round 9, VERDICT r8 #5).  Deliberately a separate
        #: registry from the fragments: a bare-scan "fragment" would
        #: poison subtree derivation (every query contains its
        #: table scans), so bucketed facts are declared per-batch by
        #: join key and substituted at ``load_table`` level instead of
        #: by plan matching.
        self.bucketed_tables: dict[str, str] = {}
        self._derived: dict[str, "str | _BuildFailed"] = {}
        self._inflight: dict[str, threading.Event] = {}
        self._lock = threading.Lock()
        self._seq = 0

    def derived_path(self, key: str, build) -> str:
        """Return the scratch-parquet path for the derived plan *key*,
        materializing it via *build(path)* exactly once across all
        batch threads (double-checked: losers of the insert race wait
        on the winner's event).  If the winning builder RAISES, its
        exception is memoized and re-raised in every waiter (ADVICE r8
        #2: waiters used to wake to a ``KeyError`` that masked the real
        build failure) — the key stays poisoned for the batch's
        lifetime, which is correct because every member consuming the
        rollup would fail the same way."""
        with self._lock:
            if key in self._derived:
                return self._unwrap(key)
            ev = self._inflight.get(key)
            if ev is None:
                ev = self._inflight[key] = threading.Event()
                self._seq += 1
                name = f"derived_{self._seq}_{hashlib.sha1(key.encode()).hexdigest()[:12]}"
                path = os.path.join(self.scratch, name)
                owner = True
            else:
                owner = False
        if not owner:
            ev.wait()
            with self._lock:
                return self._unwrap(key)
        try:
            build(path)
            with self._lock:
                self._derived[key] = path
        except BaseException as exc:
            with self._lock:
                self._derived[key] = _BuildFailed(exc)
            raise
        finally:
            ev.set()
            with self._lock:
                self._inflight.pop(key, None)
        return path

    def _unwrap(self, key: str) -> str:
        """Resolve a memoized derive: the path, or the winning
        builder's exception re-raised (caller holds the lock)."""
        val = self._derived[key]
        if isinstance(val, _BuildFailed):
            raise val.exc
        return val


_TLS = threading.local()


def current_context() -> BatchContext | None:
    """The batch context installed on THIS thread, or None (every
    standalone query, and any thread a batch did not spawn)."""
    return getattr(_TLS, "ctx", None)


@contextmanager
def batch_context(ctx: BatchContext | None):
    """Install *ctx* for the duration of the block on the current
    thread.  ``run_batch`` wraps both its fragment-materialization
    phase and each member's build+run in this."""
    prev = getattr(_TLS, "ctx", None)
    _TLS.ctx = ctx
    try:
        yield
    finally:
        _TLS.ctx = prev


@contextmanager
def plan_only():
    """Mark THIS THREAD as a plan-only consumer for the block: query
    builders must not execute Spark jobs at DataFrame-construction time
    (eager ``materialize_once`` checkpoints, sizing aggregates) — the
    caller only wants the analyzed/optimized tree.

    Thread-local on purpose (ADVICE r13 #4): a process-global switch
    made a query concurrently building on ANOTHER thread (e.g. a
    batch's worker threads) silently skip its checkpoints during the
    window.  ``tools/plan_report.py`` wraps its whole build loop in
    this."""
    prev = getattr(_TLS, "plan_only", False)
    _TLS.plan_only = True
    try:
        yield
    finally:
        _TLS.plan_only = prev


def plan_only_active() -> bool:
    """True when the current thread is building plans only (see
    :func:`plan_only`)."""
    return bool(getattr(_TLS, "plan_only", False))


def _canonical_key(df: DataFrame) -> str:
    """A collision-free identity for a plan: the CANONICALIZED analyzed
    tree string (expression ids normalized, so two builds of the same
    helper rollup key identically; scan paths are embedded, so the
    same rollup over different sf_dirs keys differently)."""
    return df._jdf.queryExecution().analyzed().canonicalized().toString()


def shared_scan(df: DataFrame, kind: str) -> DataFrame | None:
    """Batch-shared materialization hook for derived rollups (VERDICT
    r7 #1): when a materialize-mode batch context is active on this
    thread, write *df* ONCE per canonical plan to the batch scratch
    and return a parquet SCAN of the copy; otherwise return None and
    the caller keeps its lazy plan.  Values are identical either way —
    the scan reads exactly what the plan computes — so this is
    plan-shape-only, like the fragment overrides.  *kind* is a debug
    label only."""
    ctx = current_context()
    if ctx is None or not ctx.derived_enabled:
        return None
    key = f"{kind}\n{_canonical_key(df)}"
    path = ctx.derived_path(
        key, lambda p: df.write.mode("overwrite").parquet(p)
    )
    return ctx.spark.read.parquet(path)


def _materialized(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame | None:
    """The batch's pre-materialized copy of fragment *name*, when a
    context for this *sf_dir* is active on the current thread (probe
    #7: a pruned codegen scan of the copy beats the row cache)."""
    ctx = current_context()
    if ctx is None or ctx.sf_dir != sf_dir:
        return None
    path = ctx.fragment_paths.get(name)
    return spark.read.parquet(path) if path else None


def token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical exploded token stream: one row per (document,
    token occurrence), with the language and source tags carried
    (both functionally dependent on doc_id, so no consumer's grain
    changes by selecting them away — round 9 added ``source`` after
    the mechanical subtree sweep found the source-similarity query
    re-deriving the same explode with only the companion column
    differing).  Every lexical query — vocabulary sweeps, TF-IDF,
    BM25, CCNet scoring, the Zipf diagnostic — starts here; in a
    batch this is the single explode they all share."""
    m = _materialized(spark, sf_dir, "token_stream")
    if m is not None:
        return m
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", "source", F.explode(tokens("text")).alias("tok")
    )


def user_event_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical per-user ordered event sequence (round 8, VERDICT
    r7 #3): one user-shuffle window pass over ``events`` ordered by
    ``(ts, event_id)`` carrying the sequence neighbors — ``prev_ts``
    (lag, feeds sessionization gap tests and inter-arrival gaps),
    ``prev_type`` (lag, feeds run-length collapse), and ``next_type``
    (lead, feeds transition matrices).  The user_id exchange +
    per-user sort is the dominant cost every sequence query pays; in a
    batch it runs once here.  All neighbor columns ride the SAME
    window spec, so the pass costs one sort regardless of how many
    consumers want which column; standalone, Catalyst prunes the
    unused window expressions from each consumer's solo plan (pinned:
    top_session_paths' plan carries lag but no lead).

    Ordering note: consumers whose oracle orders by ``ts`` alone
    (sessionize_events) are safe on this (ts, event_id) order — within
    equal-ts ties ``prev_ts`` differs only between rows whose gap is
    then 0, which no 30-minute threshold can split, so session islands
    and their (min ts, count) aggregates are identical."""
    from pyspark.sql.window import Window

    m = _materialized(spark, sf_dir, "user_event_seq")
    if m is not None:
        return m
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("ts").over(w).alias("prev_ts"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )


def signed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical hyperplane-LSH-signed embedding corpus: every
    vector tagged with its 4-bit sign-of-projection bucket
    (``operators.similarity.random_hyperplane_signature``, dim=64)
    — the signature the ANN probe path and its full-probe
    oracle twin both compute.  Signing is 4 dim-64 dot products per
    row as SQL array expressions, the expensive half of the LSH scan;
    in a batch the corpus signs once.  The NORMALIZED-matrix fragment
    the round-7 verdict floated was rejected on purpose: rewriting
    cosine as dot-of-unit-vectors changes float rounding against the
    DuckDB oracles' ``list_cosine_similarity``, while the signature
    is reused bit-identically as-is."""
    from cid_etl_spark.operators.similarity import (
        random_hyperplane_signature,
    )

    m = _materialized(spark, sf_dir, "signed_embeddings")
    if m is not None:
        return m
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.withColumn(
        "__bucket",
        random_hyperplane_signature("embedding", dim=64, bits=4),
    )


def doc_token_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical POSITIONAL token sequence: one row per token
    occurrence with its 0-based position and the next 1..7 tokens as
    lead columns — one doc-keyed window pass carrying every gram width
    the span/contamination family needs (round 9, the subtree sweep's
    last genuine share: the 5-gram dup-span scan and the 8-gram
    cross-split audit each re-ran this explode + window sort).  All
    leads ride ONE window spec, so the pass costs one per-doc sort
    however many widths consumers want; standalone, Catalyst prunes
    unused leads (the :func:`user_event_seq` argument).  Distinct from
    :func:`token_stream` on purpose: this grain needs positions and
    the non-empty-text gate both span consumers share."""
    from pyspark.sql.window import Window

    m = _materialized(spark, sf_dir, "doc_token_seq")
    if m is not None:
        return m
    d = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    tk = d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    return tk.select(
        "doc_id",
        "pos",
        "tok",
        *[F.lead("tok", i).over(w).alias(f"lead{i}") for i in range(1, 8)],
    )


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical BM25 score table for the engine's fixed query
    terms ('data', 'query', 'index'; k1=1.2, b=0.75): ``(doc_id,
    score)`` with the score rounded once to 4 dp — exactly the table
    both retrieval queries rank (BM25 top-20 report, hybrid RRF's
    lexical channel).  Round 9: the mechanical subtree sweep found the
    whole four-rollup scoring pipeline duplicated between them (their
    plans differ only in the final alias, which canonicalization
    strips); as a CHILD fragment of :func:`doc_term_counts` it
    computes once per batch and both channels rank the copy.  Corpus
    stats (N, avgdl) fold to one row and per-term dfs to a
    query-sized table, both broadcast — nothing fact-sized re-joins."""
    m = _materialized(spark, sf_dir, "bm25_scores")
    if m is not None:
        return m
    dtc = doc_term_counts(spark, sf_dir)
    dl = dtc.groupBy("doc_id").agg(F.sum("n").cast("double").alias("len"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("len").alias("avgdl"),
    )
    tf = dtc.filter(F.col("tok").isin("data", "query", "index")).select(
        "doc_id",
        F.col("tok").alias("term"),
        F.col("n").cast("double").alias("tf"),
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    score = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("len") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 4).alias("score"))
    )


def daily_order_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical daily-revenue series: one row per order date with
    the day's revenue as EXACT integer cents (round 9, VERDICT r8 #4
    generalized to the stats family's sufficient-statistic frames).
    The time-series diagnostics — autocorrelation, the runs test —
    all fold ``orders`` to this same |days|-row frame before their own
    math; in a batch the fact scan + date shuffle runs once here.
    Integer cents keep every downstream sufficient statistic exact
    regardless of which consumer computes it from the shared copy."""
    m = _materialized(spark, sf_dir, "daily_order_cents")
    if m is not None:
        return m
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )


def monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical monthly-revenue sufficient-statistic frame:
    ``(month, n_orders, revenue, cents)`` — order count, exact-decimal
    revenue rounded once to money, and exact integer cents.  The
    monthly series family (revenue report, seasonal-naive MAPE,
    seasonal anomaly z-scores, CUSUM change-point) each fold the fact
    to month grain first; the SUPERSET frame shares that one fact
    scan + month shuffle across them in a batch, while standalone
    Catalyst prunes each consumer's unused aggregate expressions so
    solo plans keep their pre-refactor shape (same argument as
    :func:`user_event_seq`, pinned by tests/test_batch.py)."""
    from cid_etl_spark.operators.aggregates import decimal_sum, money

    m = _materialized(spark, sf_dir, "monthly_order_stats")
    if m is not None:
        return m
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(decimal_sum("o_totalprice")).alias("revenue"),
        F.sum(F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("bigint")
        .alias("cents"),
    )


def doc_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical per-document term-frequency rollup:
    ``(doc_id, lang, tok) → n`` occurrences.  TF tables, document
    frequencies, document lengths, corpus unigram frequencies, and
    per-language vocabularies are all one further (much smaller)
    aggregation away, so in a batch this rollup replaces each
    consumer's own token-grain shuffle.  Exact integer counts, so any
    re-aggregation (SUM of n) is bit-identical to counting the stream
    directly."""
    m = _materialized(spark, sf_dir, "doc_term_counts")
    if m is not None:
        return m
    return (
        token_stream(spark, sf_dir)
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
