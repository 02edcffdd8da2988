"""Multi-query batch execution with shared-fragment reuse (SURVEY §7,
VERDICT r6 #3).

``run_batch`` runs a list of queries after writing the canonical
fragments (:mod:`cid_etl_spark.plans.fragments`) that at least two of
them consume ONCE to batch-scoped scratch parquet, in dependency
order, and deletes that scratch when the batch ends.

Mechanism: queries build their hot intermediates through the shared
fragment helpers; inside a batch a helper whose fragment was written
returns a scan of the parquet copy instead of re-deriving it — the
queries themselves are batch-agnostic and keep their standalone plans
outside a batch.  Probe #7 (BASELINE.md) sized the approach:
fragment-level reuse measured 1.36× on four consumers sharing one
explode, while base-table caching measured 0.89× (never done here).

Batch results are row-identical to per-query runs by construction
(materializing never changes values) and pinned by
``tests/test_batch.py::test_run_batch_matches_per_query_results``.
"""

from __future__ import annotations

import os
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from cid_etl_spark.plans import fragments as _frag
from cid_etl_spark.session import scratch_dir

#: Fragment name → builder.  Order is topological (parents before
#: children): a child fragment's own build then reads its parent's
#: materialized copy through the same substitution mechanism.
FRAGMENTS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "token_stream": _frag.token_stream,
    "doc_term_counts": _frag.doc_term_counts,
    "user_event_seq": _frag.user_event_seq,
    "signed_embeddings": _frag.signed_embeddings,
    "daily_order_cents": _frag.daily_order_cents,
    "monthly_order_stats": _frag.monthly_order_stats,
    "bm25_scores": _frag.bm25_scores,
    "doc_token_seq": _frag.doc_token_seq,
}

#: Fragment → fragments it is built FROM (one level here; kept as data
#: so the refcounting below stays general).
FRAGMENT_PARENTS: dict[str, tuple[str, ...]] = {
    "token_stream": (),
    "doc_term_counts": ("token_stream",),
    "user_event_seq": (),
    "signed_embeddings": (),
    "daily_order_cents": (),
    "monthly_order_stats": (),
    "bm25_scores": ("doc_term_counts",),
    "doc_token_seq": (),
}

#: Registered query name → fragments its plan consumes directly.
#: Maintained alongside the query refactors, and VERIFIED MECHANICALLY
#: (round 8, VERDICT r7 #2): tests/test_batch.py derives this map from
#: the queries' analyzed plans via canonical-subtree matching
#: (``derive_query_fragments``) and fails on any divergence — a listed
#: query drifting off its fragment OR an unlisted query whose plan
#: contains one (reuse silently forfeited).
QUERY_FRAGMENTS: dict[str, tuple[str, ...]] = {
    "top_ngrams_per_lang": ("token_stream",),
    "vocab_encode_documents": ("token_stream",),
    "unigram_logprob_score": ("token_stream",),
    "inverted_index_lookup": ("token_stream",),
    "oov_rate_by_split": ("token_stream",),
    "zipf_fit_tokens": ("token_stream",),
    "source_similarity_weighted_jaccard": ("token_stream",),
    # round 11: the retrieval eval shares the bm25 token rollup input
    "ndcg_retrieval_eval": ("token_stream",),
    "tfidf_top_terms": ("doc_term_counts",),
    "bm25_search_documents": ("bm25_scores",),
    "ccnet_quality_buckets": ("doc_term_counts",),
    "hybrid_rrf_search": ("bm25_scores",),
    "event_transition_matrix": ("user_event_seq",),
    "top_session_paths": ("user_event_seq",),
    "sessionize_events": ("user_event_seq",),
    "consecutive_dup_collapse": ("user_event_seq",),
    "interarrival_burstiness_users": ("user_event_seq",),
    "cosine_topk_lsh": ("signed_embeddings",),
    "cosine_topk_lsh_probeall": ("signed_embeddings",),
    "autocorrelation_daily_revenue": ("daily_order_cents",),
    "runs_test_daily_revenue": ("daily_order_cents",),
    "monthly_order_revenue": ("monthly_order_stats",),
    "seasonal_naive_mape_orders": ("monthly_order_stats",),
    "anomaly_months_orders": ("monthly_order_stats",),
    "cusum_changepoint_orders": ("monthly_order_stats",),
    "repeated_spans_documents": ("doc_token_seq",),
    "cross_split_contamination": ("doc_token_seq",),
    # round 12: skip-gram pairs ride the positional leads.  (The Markov
    # chain's transition counts BUILD through user_event_seq but then
    # localCheckpoint — the subtree is hidden behind a LogicalRDD, so
    # fragment substitution can never fire and the query is deliberately
    # NOT declared a fragment consumer; the checkpoint's one-scan win
    # over 8 re-scans is the documented trade.)
    "skipgram_cooccurrence_topk": ("doc_token_seq",),
}


def _plan_contains_direct(root, frag_plans: dict[str, object]) -> set[str]:
    """Walk the analyzed logical tree *root* (a JVM LogicalPlan) and
    return the fragment names whose canonical subtree appears as a
    DIRECT subtree: when a node ``sameResult``s a fragment plan, record
    it and do NOT descend into it — so a ``doc_term_counts`` consumer
    is not also credited with the ``token_stream`` nested inside the
    rollup.  ``sameResult`` compares CANONICALIZED plans, so expression
    ids never matter and a query that re-derives a fragment inline
    (identical construction without calling the helper) still matches —
    exactly the set CacheManager substitution would fire for."""
    found: set[str] = set()
    stack = [root]
    while stack:
        node = stack.pop()
        hit = next(
            (n for n, fp in frag_plans.items() if node.sameResult(fp)), None
        )
        if hit is not None:
            found.add(hit)
            continue
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return found


def derive_query_fragments(
    spark: SparkSession,
    sf_dir: str,
    names: list[str] | None = None,
) -> dict[str, tuple[str, ...]]:
    """Mechanically derive the query→fragments map by matching every
    registered query's ANALYZED plan against the fragment builders'
    canonical subtrees (VERDICT r7 #2) — the inverse of the
    substitution honesty test: a query whose plan CONTAINS a fragment
    subtree but is missing from :data:`QUERY_FRAGMENTS` is a
    reuse-by-omission bug this derivation surfaces.  Returns
    ``{query: (fragments...)}`` with empty entries omitted, in
    :data:`FRAGMENTS` order for stable comparison.  Building a plan
    may execute whatever the query's builder executes (streaming
    staging, fixpoint loops) — callers pass *names* to scope the sweep
    when that matters; ``tests/test_batch.py`` runs the full registry
    at sf0.001 and asserts the derived map equals the hand-declared
    one.

    The sweep is a PLAN-ONLY consumer, so it builds under
    ``plans.fragments.plan_only`` (the adamic_adar sizing-aggregate
    precedent, extended in r13 to ``materialize_once``; THREAD-LOCAL
    since r14 — ADVICE r13 #4: the env-var toggle made concurrent
    builds on other threads skip their checkpoints): an eager
    localCheckpoint in a query's build path would both execute a job
    here and REPLACE the upstream subtree with an opaque RDD scan,
    hiding exactly the fragment reuse this derivation exists to
    detect."""
    from cid_etl_spark.plans.fragments import plan_only
    from cid_etl_spark.queries import spark_queries

    frag_order = list(FRAGMENTS)
    frag_plans = {
        n: FRAGMENTS[n](spark, sf_dir)._jdf.queryExecution().analyzed()
        for n in frag_order
    }
    queries = spark_queries()
    derived: dict[str, tuple[str, ...]] = {}
    with plan_only():
        plan_roots = {
            n: queries[n](spark, sf_dir)._jdf.queryExecution().analyzed()
            for n in (names if names is not None else list(queries))
        }
    for n, root in plan_roots.items():
        hits = _plan_contains_direct(root, frag_plans)
        if hits:
            derived[n] = tuple(f for f in frag_order if f in hits)
    return derived


def plan_fragments(
    names: list[str],
    query_fragments: dict[str, tuple[str, ...]] | None = None,
) -> dict[str, int]:
    """Decide which fragments a batch of *names* should materialize and
    return ``{fragment: use_count}`` for those worth sharing.  A
    fragment is worth sharing when it has ≥ 2 uses, where a use is a
    direct consumer query in the batch or a shared child fragment
    built from it (building the child reads the parent once).
    *query_fragments* defaults to the registry's declared map; batches
    with AD-HOC members pass the map extended by batch-time derivation
    (see :func:`run_batch`)."""
    if query_fragments is None:
        query_fragments = QUERY_FRAGMENTS
    direct: dict[str, int] = {f: 0 for f in FRAGMENTS}
    for n in names:
        for f in query_fragments.get(n, ()):
            direct[f] += 1
    # children first (reverse topological), so a parent sees how many
    # times each child will be BUILT: once if the child is cached,
    # otherwise once per direct consumer (each consumer's plan
    # re-derives it — and re-reads this parent)
    cached: dict[str, int] = {}
    builds: dict[str, int] = {}
    for f in reversed(list(FRAGMENTS)):
        uses = direct[f] + sum(
            builds[c]
            for c in FRAGMENTS
            if f in FRAGMENT_PARENTS.get(c, ()) and c in builds
        )
        if uses >= 2:
            cached[f] = uses
            builds[f] = 1
        else:
            builds[f] = uses
    return {f: cached[f] for f in FRAGMENTS if f in cached}


def _resolve_members(
    spark: SparkSession,
    sf_dir: str,
    names: "list[str] | dict[str, Callable[[SparkSession, str], DataFrame]]",
) -> tuple[
    list[str],
    dict[str, Callable[[SparkSession, str], DataFrame]],
    dict[str, tuple[str, ...]],
]:
    """Normalize a batch spec into ``(ordered names, name→builder,
    name→fragments)``.  A list of strings means registered queries
    with the declared fragment map; a dict may mix registered names
    (value ``None``) with AD-HOC builders, whose fragment consumption
    is DERIVED at batch time by matching their analyzed plans against
    the fragment subtrees (round-9 candidate #1, landed early) — an
    ad-hoc query that builds through a canonical helper gets reuse
    without registering anywhere."""
    if isinstance(names, dict):
        pairs = list(names.items())
    else:
        pairs = [(n, None) for n in names]
    from cid_etl_spark.plans.fragments import plan_only
    from cid_etl_spark.queries import spark_queries

    registered = spark_queries()
    fns: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    qf: dict[str, tuple[str, ...]] = {}
    frag_plans = None
    for n, fn in pairs:
        if fn is None:
            fns[n] = registered[n]
            if n in QUERY_FRAGMENTS:
                qf[n] = QUERY_FRAGMENTS[n]
        else:
            fns[n] = fn
            if frag_plans is None:
                frag_plans = {
                    f: FRAGMENTS[f](spark, sf_dir)
                    ._jdf.queryExecution()
                    .analyzed()
                    for f in FRAGMENTS
                }
            # plan-only: the ad-hoc member is built here ONLY to match
            # its analyzed tree against the fragment subtrees — an
            # eager materialize_once checkpoint would both run jobs at
            # planning time and hide the very subtrees being matched
            # (ADVICE r13 #1)
            with plan_only():
                root = fn(spark, sf_dir)._jdf.queryExecution().analyzed()
            hits = _plan_contains_direct(root, frag_plans)
            if hits:
                qf[n] = tuple(f for f in FRAGMENTS if f in hits)
    return [n for n, _ in pairs], fns, qf


#: Session conf key for the ``bucket_facts="auto"`` size gate: a table
#: below this many bytes is never auto-bucketed (it is broadcast- or
#: single-shuffle-cheap anyway, and the one-exchange bucketed write
#: would cost more than it saves).  The default is far above any
#: broadcast threshold — at fixture scale the heuristic is inert and
#: the measured sf0.1/sf1 ladders keep their meaning; on a real corpus
#: the facts pass the gate and the advice fires.
AUTO_BUCKET_MIN_BYTES_CONF = "spark.cid_etl.batch.autoBucketMinBytes"
AUTO_BUCKET_MIN_BYTES_DEFAULT = 256 * 1024 * 1024


def _table_bytes(spark: SparkSession, sf_dir: str, tbl: str) -> int:
    """Total bytes of a fixture table, through the Hadoop FileSystem
    resolved from the path's own URI (works for local dirs and
    hdfs://-style roots alike — same resolution as the batch scratch
    dir)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(
        os.path.join(sf_dir, f"{tbl}.parquet")
    )
    try:
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs.getContentSummary(jpath).getLength()
    except Exception:
        return 0


def _equi_grain_names(root) -> "set[str]":
    """Attribute names a plan uses as an equi-join key, a grouping
    key, or a window partition key — the grains a bucketed layout on
    the underlying table could satisfy without an Exchange.  Walks the
    analyzed logical tree (a JVM LogicalPlan).  Join conditions are
    read from the expression's ``sql()`` rendering and only the
    ``a = b`` equality pairs count — range/interval predicates
    (``BETWEEN``, ``<=``) never vote, a hash layout cannot serve
    them."""
    import re as _re

    names: set[str] = set()
    stack = [root]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "Join":
            cond = node.condition()
            if cond.isDefined():
                for m in _re.finditer(
                    r"`?(\w+)`?\s*=\s*`?(\w+)`?", cond.get().sql()
                ):
                    names.update(m.groups())
        elif cls in ("Aggregate", "Window"):
            exprs = (
                node.groupingExpressions()
                if cls == "Aggregate"
                else node.partitionSpec()
            )
            for i in range(exprs.size()):
                e = exprs.apply(i)
                if e.getClass().getSimpleName() == "AttributeReference":
                    names.add(e.name())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return names


def advise_bucket_facts(
    spark: SparkSession,
    sf_dir: str,
    names: list[str],
    fns: "dict[str, Callable[[SparkSession, str], DataFrame]]",
    min_bytes: int | None = None,
) -> dict[str, str]:
    """The ``bucket_facts="auto"`` heuristic (VERDICT r10 #5): declare
    a bucketed copy for every fixture table that (a) is too big to
    broadcast or shuffle casually — ≥ *min_bytes* (conf
    :data:`AUTO_BUCKET_MIN_BYTES_CONF`) — and (b) at least TWO batch
    members join/group/window on the same column of it, so the one
    bucketed write amortizes over ≥2 elided per-member Exchanges (the
    break-even the r10 sf0.1 ladders measured; BASELINE.md §r10).

    Mechanical, not declared: each member's ANALYZED plan is walked
    for equi-join keys, grouping keys, and window partition keys; a
    key column votes for its table when the column name maps to
    exactly one fixture table (the fixture schemas are prefix-named,
    so ambiguity is rare; ambiguous names never vote).  Per table the
    most-voted key wins, ties to the lexicographically smallest.  The
    SIZE GATE RUNS FIRST — when no table passes (every test fixture),
    the member plans are never built and the advice costs 10 footer
    stats, so ``"auto"`` as the default adds no overhead at small
    scale."""
    from cid_etl_spark.sources.parquet import TABLES, load_table

    if min_bytes is None:
        min_bytes = int(
            spark.conf.get(
                AUTO_BUCKET_MIN_BYTES_CONF,
                str(AUTO_BUCKET_MIN_BYTES_DEFAULT),
            )
        )
    big = {t for t in TABLES if _table_bytes(spark, sf_dir, t) >= min_bytes}
    if not big:
        return {}
    col_table: dict[str, str] = {}
    ambiguous: set[str] = set()
    for t in TABLES:  # every table votes for ambiguity, not just big ones
        for c in load_table(spark, sf_dir, t).columns:
            if c in ambiguous:
                continue
            if c in col_table and col_table[c] != t:
                ambiguous.add(c)
                col_table.pop(c)
            else:
                col_table[c] = t
    votes: dict[tuple[str, str], int] = {}
    from cid_etl_spark.plans.fragments import plan_only

    for n in names:
        try:
            # plan-only (ADVICE r13 #1): the member plan is built only
            # to read its equi-grain keys; above the size gate (real
            # scale) an eager materialize_once would otherwise run
            # checkpoint jobs during planning AND replace the upstream
            # subtree — hiding the scans/keys this walk votes on
            with plan_only():
                root = fns[n](spark, sf_dir)._jdf.queryExecution().analyzed()
        except Exception:
            continue  # a member that fails to plan simply doesn't vote
        for col in _equi_grain_names(root):
            t = col_table.get(col)
            if t in big:
                votes[(t, col)] = votes.get((t, col), 0) + 1
    out: dict[str, str] = {}
    for t in sorted(big):
        cands = [
            (cnt, key)
            for (tt, key), cnt in votes.items()
            if tt == t and cnt >= 2
        ]
        if cands:
            best = min(cands, key=lambda ck: (-ck[0], ck[1]))
            out[t] = best[1]
    return out


def run_batch(
    spark: SparkSession,
    sf_dir: str,
    names: "list[str] | dict[str, Callable[[SparkSession, str], DataFrame]]",
    action: Callable[[DataFrame], Any] | None = None,
    max_concurrency: int = 4,
    bucket_facts: "dict[str, str | tuple[str, int]] | str | None" = "auto",
) -> dict[str, Any]:
    """Run a batch of queries with shared fragments reused across
    them.  *names* is a list of REGISTERED query names, or a dict
    mixing registered names (value ``None``) with AD-HOC builders
    ``name → fn(spark, sf_dir) -> DataFrame`` — ad-hoc members'
    fragment consumption is derived mechanically from their analyzed
    plans, so a one-off query built through a canonical helper shares
    the batch's materialized fragments without touching the registry.
    *action* materializes each query's DataFrame and its
    return value lands in the result dict (default: a ``noop``-format
    write — full materialization, no driver collect).

    Reuse mechanism: fragments with ≥2 uses are written ONCE to
    scratch parquet and every consumer's helper call returns a SCAN of
    the materialized copy — keeping whole-stage codegen, column
    pruning, and predicate pushdown into the shared intermediate.  The
    standard warehouse "materialized intermediate" pattern; at 100 TB
    the scratch dir is distributed storage and each consumer's scan is
    pruned to the columns/predicates it needs.  (A ``persist()`` +
    CacheManager variant measured 0.86× of sequential against 1.27×
    serial / 2.53× concurrent for this path — BASELINE.md round 7 —
    and was removed.)

    Members additionally run CONCURRENTLY (*max_concurrency* threads,
    order-preserving result dict): independent queries interleave
    their stages, so single-task stages (1-row rollups, driver-side
    heap merges) of one query fill cores another query leaves idle —
    the multi-query-scheduler half of the batch story.  Set
    ``max_concurrency=1`` for strictly serial execution.  Results are
    row-identical to per-query runs (materializing never changes
    values; queries are independent); pinned by tests/test_batch.py.

    SCRATCH CONTRACT (the 100 TB story): each batch writes its shared
    fragments and bucketed facts under its own directory,
    ``scratch_dir(spark, "batch", <uuid>)``.  The resolver
    (:func:`cid_etl_spark.session.scratch_dir`) puts it under the
    session's scratch root — storage every executor can reach
    (HDFS/object-store URI or a shared mount) — or the local tempdir
    under a ``local[...]`` master; any other master without the
    setting fails before a fragment is written.  The directory is
    created and, when the batch finishes, deleted through the Hadoop
    ``FileSystem`` resolved from its own path — the same resolution
    the fragment writes use — so remote roots work and are cleaned
    up, and concurrent batches sharing one root never collide.

    BUCKETED FACTS (round 9, VERDICT r8 #5): *bucket_facts* maps a
    fixture table to the join key the batch's members repeatedly
    join/aggregate it on — ``{"lineitem": "l_orderkey"}`` or
    ``{"lineitem": ("l_orderkey", 64)}`` to set the bucket count
    (default: the session's shuffle partitions).  The table is written
    ONCE as a bucketed+sorted catalog table in the batch scratch, and
    every member's ``load_table`` scan of it resolves to the copy —
    whose ``HashPartitioning(key)`` satisfies each member's join/agg
    distribution on that key, so per-member Exchanges on the declared
    key disappear (the classic warehouse bucketing trade: one shuffle
    write amortized over every consumer).  Deliberately NOT a plan
    fragment: a bare-scan fragment would match every query's scan
    during subtree derivation, so bucketed facts are declared by key
    and substituted at the loader, invisible to derivation.  Values
    are identical by construction (same rows, different layout).

    The DEFAULT is ``bucket_facts="auto"`` (round 11, VERDICT r10 #5 —
    the r10 write-layout fix flipped the feature's sf0.1 ladders
    positive, so it graduates from opt-in to advised):
    :func:`advise_bucket_facts` walks the members' analyzed plans and
    declares a bucketed copy for every fixture table ≥
    :data:`AUTO_BUCKET_MIN_BYTES_DEFAULT` bytes (conf-overridable)
    that ≥2 members join/group/window on the same key of.  Below the
    gate — every test fixture — auto resolves to no bucketing at the
    cost of 10 file-size stats, so small-scale batches are unchanged.
    Pass an explicit dict to force, or ``None`` to disable.
    """
    if action is None:
        def action(df: DataFrame) -> None:  # noqa: F811
            df.write.format("noop").mode("overwrite").save()

    member_names, fns, qf = _resolve_members(spark, sf_dir, names)
    if bucket_facts == "auto":
        # advised by default (VERDICT r10 #5): the size gate keeps it
        # inert below AUTO_BUCKET_MIN_BYTES
        bucket_facts = (
            advise_bucket_facts(spark, sf_dir, member_names, fns) or None
        )
    return _run_materialized(
        spark, sf_dir, member_names, fns, qf, action,
        max_concurrency, bucket_facts,
    )


def _run_members(
    spark: SparkSession,
    sf_dir: str,
    names: list[str],
    fns: dict[str, Callable[[SparkSession, str], DataFrame]],
    action: Callable[[DataFrame], Any],
    max_concurrency: int,
    ctx: "_frag.BatchContext | None" = None,
) -> dict[str, Any]:
    """Execute member queries, optionally from a small thread pool
    (SparkSession is thread-safe; each query is an independent job
    set).  Each member's plan BUILD and run happen with the batch
    context *ctx* installed on its worker thread, so the fragment
    builders and derived-rollup hooks see the batch's materialized
    copies — and nothing outside these threads does (ADVICE r7 #3).
    Result dict preserves *names* order; a member's exception
    propagates after the pool drains."""

    def run_one(n: str):
        with _frag.batch_context(ctx):
            return action(fns[n](spark, sf_dir))

    if max_concurrency <= 1 or len(names) == 1:
        return {n: run_one(n) for n in names}
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
        futures = {n: pool.submit(run_one, n) for n in names}
        return {n: futures[n].result() for n in names}


def _write_bucketed_facts(
    spark: SparkSession,
    sf_dir: str,
    ctx: "_frag.BatchContext",
    bucket_facts: "dict[str, str | tuple[str, int]]",
    scratch: str,
) -> list[str]:
    """Write each declared fact ONCE as a bucketed+sorted external
    table under the batch scratch and record it on *ctx* so member
    ``load_table`` calls scan the copy.  Returns the catalog names for
    cleanup.  The copy is written from the PLAIN un-spread scan (the
    context's ``bucketed_tables`` entry is only set afterwards, so the
    write itself never recurses into a substitution), hash-repartitioned
    to exactly ``n`` partitions on the bucket key before the write:
    ``repartition(n, key)`` and ``bucketBy(n, key)`` use the same
    murmur3 ``pmod`` assignment, so every writer task holds exactly one
    bucket and each bucket lands as ONE sorted file (ADVICE r9 #3 — a
    spread/round-robin input made every task emit a file per bucket,
    and multi-file buckets make Spark drop the ``sortBy`` metadata at
    read time, keeping only the hash-partitioning benefit).  With
    single-file buckets, sessions that enable
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` (off by
    default since SPARK-28595 precisely because multi-file buckets
    break it) additionally elide the SMJ Sort on the bucketed sides —
    pinned by ``test_bucketed_facts_single_sorted_file_per_bucket``.

    If any write fails partway, the tables already created are dropped
    here before the exception propagates (ADVICE r9 #1 — the caller's
    ``tables`` list was never assigned on a partial failure, leaking
    catalog entries that point at the deleted scratch dir for the rest
    of the session)."""
    from pyspark.sql import functions as F

    from cid_etl_spark.sources.parquet import load_table

    default_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    created: list[tuple[str, str]] = []
    try:
        for tbl, spec in bucket_facts.items():
            key, n = (spec, default_n) if isinstance(spec, str) else spec
            tname = f"cid_etl_bucketed_{uuid.uuid4().hex[:12]}_{tbl}"
            (
                load_table(spark, sf_dir, tbl, spread=False)
                .repartition(n, F.col(key))
                .write.bucketBy(n, key)
                .sortBy(key)
                .option("path", os.path.join(scratch, f"bucketed_{tbl}"))
                .mode("overwrite")
                .saveAsTable(tname)
            )
            ctx.bucketed_tables[tbl] = tname
            created.append((tbl, tname))
    except BaseException:
        for tbl, tname in created:
            ctx.bucketed_tables.pop(tbl, None)
            try:
                spark.sql(f"DROP TABLE IF EXISTS {tname}")
            except Exception:
                pass
        raise
    return [tname for _, tname in created]


def _run_materialized(
    spark: SparkSession,
    sf_dir: str,
    names: list[str],
    fns: dict[str, Callable[[SparkSession, str], DataFrame]],
    qf: dict[str, tuple[str, ...]],
    action: Callable[[DataFrame], Any],
    max_concurrency: int,
    bucket_facts: "dict[str, str | tuple[str, int]] | None" = None,
) -> dict[str, Any]:
    """Materialize ≥2-use fragments to scratch parquet under a
    batch-scoped context (plans.fragments.BatchContext), run the
    members with that context installed on their worker threads, then
    delete the scratch dir.  The context is invisible outside the
    batch's own threads, so concurrent batches — and standalone
    queries built while a batch is in flight — are isolated by
    construction (ADVICE r7 #1/#3: no process-global override dict,
    no check-then-set race, no leaked scratch plans)."""
    to_share = plan_fragments(names, qf)
    scratch = scratch_dir(spark, "batch", uuid.uuid4().hex)
    # Derived-rollup materialization only pays when OTHER members run
    # concurrently during the write (ADVICE r8 #4: a single-member
    # batch fell into the eager path the code's own A/B shows is
    # slower serial — 23.7 s vs 17.3 s on the bucket ladder).
    ctx = _frag.BatchContext(
        spark, sf_dir, scratch,
        derived_enabled=max_concurrency > 1 and len(names) > 1,
    )
    tables: list[str] = []
    try:
        # bucketed facts first: fragment builds below then read the
        # bucketed copies too (same values, co-located layout)
        if bucket_facts:
            tables = _write_bucketed_facts(
                spark, sf_dir, ctx, bucket_facts, scratch
            )
        # parents first: a child fragment's build reads the parent's
        # materialized copy through the same context
        with _frag.batch_context(ctx):
            for f in to_share:
                path = os.path.join(scratch, f)
                FRAGMENTS[f](spark, sf_dir).write.mode("overwrite").parquet(path)
                ctx.fragment_paths[f] = path
        return _run_members(
            spark, sf_dir, names, fns, action, max_concurrency, ctx
        )
    finally:
        for t in tables:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass
        jpath = spark._jvm.org.apache.hadoop.fs.Path(scratch)
        try:
            jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(
                jpath, True
            )
        except Exception:
            pass
