"""run_batch (SURVEY §7, round 7): shared-fragment batch execution
must be invisible to results — row-identical to per-query runs — while
actually substituting the materialized fragments into member plans and
removing its scratch by the end.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from cid_etl_spark.plans.batch import (
    FRAGMENTS,
    QUERY_FRAGMENTS,
    plan_fragments,
    run_batch,
)
from cid_etl_spark.session import SCRATCH_ROOT_CONF

SF = "/root/testdata/sf0.001"

BATCH = [
    "top_ngrams_per_lang",
    "tfidf_top_terms",
    "bm25_search_documents",
    "ccnet_quality_buckets",
    "lang_id_documents",
    "quality_score_documents",
]


def test_plan_fragments_refcounts():
    # both fragments cached when the explode has 2+ transitive uses
    assert plan_fragments(BATCH) == {"token_stream": 2, "doc_term_counts": 3}
    # a single consumer caches nothing
    assert plan_fragments(["tfidf_top_terms"]) == {}
    assert plan_fragments(["lang_id_documents"]) == {}
    # two doc_term_counts consumers cache the rollup but not the
    # stream (it is read once, while building the rollup)
    assert plan_fragments(["tfidf_top_terms", "bm25_search_documents"]) == {
        "doc_term_counts": 2
    }
    # stream + one rollup consumer: the stream is read twice (once by
    # the consumer, once by the rollup build) — cache it, not the rollup
    assert plan_fragments(["top_ngrams_per_lang", "tfidf_top_terms"]) == {
        "token_stream": 2
    }


def test_run_batch_matches_per_query_results(spark):
    from cid_etl_spark.queries import spark_queries

    queries = spark_queries()

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def pinned_ids() -> set[int]:
        # set of ids, not a count: unrelated pinned RDDs (e.g. a
        # localCheckpoint from a query built by an earlier test) may be
        # ContextCleaner-collected WHILE this test runs, so a size
        # comparison races — the leak contract is "no NEW pins remain"
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().iterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    want = {n: rows(queries[n](spark, SF)) for n in BATCH}
    # baseline AFTER the standalone runs: since r13, standalone members
    # may pin short-lived localCheckpoint RDDs (materialize_once) that
    # ContextCleaner collects on its own schedule — the leak contract
    # under test is "run_batch leaves no NEW pins", not "standalone
    # plans never checkpoint"
    pinned_before = pinned_ids()
    # parquet-materialized fragments + concurrent members
    got = run_batch(spark, SF, BATCH, action=rows)
    assert set(got) == set(want)
    for n in BATCH:
        assert got[n] == want[n], f"materialize-batch result differs for {n}"
    # the batch context never leaks to the caller's thread: standalone
    # plans rebuild normally
    from cid_etl_spark.plans import fragments as fr

    assert fr.current_context() is None
    # the batch pinned nothing new for the caller
    assert pinned_ids() - pinned_before == set()


def test_fragment_substitution_fires(spark):
    """Caching the fragment must change each consumer's EXECUTED plan
    (InMemoryTableScan appears) — this is what keeps QUERY_FRAGMENTS
    honest: if a refactor drifts a query off the canonical helper, the
    subtree no longer matches and this test fails for that query.

    Built under ``plan_only()``: this is a plan-shape assertion, and
    the r13 ``materialize_once`` checkpoints (skipped under it) would otherwise replace the consumer's upstream subtree with
    an opaque RDD scan — the cache IS still hit on the production
    path (the checkpoint's own job reads the InMemoryTableScan), the
    substitution just isn't visible in the post-checkpoint plan."""
    from cid_etl_spark.plans.fragments import plan_only
    from cid_etl_spark.queries import spark_queries

    queries = spark_queries()
    for frag_name, builder in FRAGMENTS.items():
        consumers = [
            n for n, fs in QUERY_FRAGMENTS.items() if frag_name in fs
        ]
        frag = builder(spark, SF)
        frag.persist()
        try:
            frag.count()
            for n in consumers:
                with plan_only():
                    plan = (
                        queries[n](spark, SF)
                        ._jdf.queryExecution()
                        .executedPlan()
                        .toString()
                    )
                assert "InMemoryTableScan" in plan, (
                    f"{n} does not reuse cached fragment {frag_name}"
                )
        finally:
            frag.unpersist()


def test_fragments_standalone_values(spark):
    """The canonical fragments themselves compute what they claim."""
    from cid_etl_spark.plans.fragments import doc_term_counts, token_stream

    ts = token_stream(spark, SF)
    dtc = doc_term_counts(spark, SF)
    n_stream = ts.count()
    n_from_rollup = dtc.agg(F.sum("n")).collect()[0][0]
    assert n_stream == n_from_rollup  # rollup loses no occurrences
    # lang is functionally dependent on doc_id: the rollup grain is
    # exactly (doc_id, tok)
    assert (
        dtc.groupBy("doc_id", "tok").count().filter(F.col("count") > 1).count()
        == 0
    )


def test_query_fragments_map_derived_mechanically(spark):
    """VERDICT r7 #2: QUERY_FRAGMENTS must equal the map DERIVED from
    the plans themselves — matching every registered query's analyzed
    tree against the fragment builders' canonical subtrees.  This is
    the inverse of test_fragment_substitution_fires: that test catches
    a listed query drifting OFF its fragment; this one catches a query
    whose plan contains a fragment subtree while MISSING from the map
    (reuse silently forfeited).  Building a plan runs whatever the
    builder runs (streaming staging, fixpoints), so this is the
    slowest honesty test — it sweeps the full registry at sf0.001."""
    from cid_etl_spark.plans.batch import derive_query_fragments

    derived = derive_query_fragments(spark, SF)
    assert derived == QUERY_FRAGMENTS, (
        "hand-declared QUERY_FRAGMENTS drifted from the mechanically "
        f"derived map; missing={set(derived) - set(QUERY_FRAGMENTS)} "
        f"extra={set(QUERY_FRAGMENTS) - set(derived)}"
    )


def test_fragment_derivation_catches_divergent_query(spark):
    """A deliberately-divergent consumer — builds through the
    canonical helper but is absent from QUERY_FRAGMENTS — must be
    caught by the derivation (proves the mechanism detects
    reuse-by-omission, not just agreement on today's map)."""
    from cid_etl_spark.plans.batch import FRAGMENTS, _plan_contains_direct
    from cid_etl_spark.plans.fragments import token_stream

    divergent = (
        token_stream(spark, SF).groupBy("lang").count()
    )  # a "new token query" someone forgot to register in the map
    frag_plans = {
        n: FRAGMENTS[n](spark, SF)._jdf.queryExecution().analyzed()
        for n in FRAGMENTS
    }
    hits = _plan_contains_direct(
        divergent._jdf.queryExecution().analyzed(), frag_plans
    )
    assert hits == {"token_stream"}
    # and the nested-subtree rule: a doc_term_counts consumer is
    # credited with the ROLLUP only, not the stream inside it
    from cid_etl_spark.plans.fragments import doc_term_counts

    nested = doc_term_counts(spark, SF).groupBy("lang").count()
    hits2 = _plan_contains_direct(
        nested._jdf.queryExecution().analyzed(), frag_plans
    )
    assert hits2 == {"doc_term_counts"}


@contextmanager
def _scratch_root(spark, root: str):
    """Point the session's ``spark.cid_etl.scratchRoot`` at *root* for
    the block."""
    spark.conf.set(SCRATCH_ROOT_CONF, root)
    try:
        yield
    finally:
        spark.conf.unset(SCRATCH_ROOT_CONF)


def test_run_batch_explicit_scratch_root(spark, tmp_path):
    """The 100 TB scratch contract (VERDICT r7 #5): the
    ``spark.cid_etl.scratchRoot`` conf receives a unique per-batch
    subdirectory for the materialized fragments, and exactly that
    subdirectory is removed when the batch finishes — so concurrent
    batches can share one cluster-visible root without colliding."""
    import os

    from cid_etl_spark.queries import spark_queries

    queries = spark_queries()
    root = str(tmp_path / "shared_scratch")
    os.makedirs(root)
    sentinel = os.path.join(root, "someone_elses_file")
    open(sentinel, "w").write("keep me")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    sub = ["tfidf_top_terms", "bm25_search_documents"]
    want = {n: rows(queries[n](spark, SF)) for n in sub}
    with _scratch_root(spark, root):
        got = run_batch(spark, SF, sub, action=rows)
    for n in sub:
        assert got[n] == want[n]
    # the batch's own subdir is gone, the shared root and foreign
    # content survive
    assert os.path.exists(sentinel)
    assert os.listdir(root) == ["someone_elses_file"]


def test_shared_scan_materializes_edge_rollups_once(spark, tmp_path):
    """The derived-rollup mechanism itself (VERDICT r7 #1): inside a
    concurrent-capable batch context, a bucket helper's percentile
    edge rollup is replaced by a scan of the scratch copy (the
    percentile aggregate leaves the consumer plan), identical rollups
    materialize ONCE across builds, and values are unchanged."""
    import os

    from pyspark.sql import functions as F

    from cid_etl_spark.operators.aggregates import bucketed_row_number
    from cid_etl_spark.plans import fragments as fr
    from cid_etl_spark.sources.parquet import load_table

    base = load_table(spark, SF, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )

    def build():
        return bucketed_row_number(
            base, "freq", tiebreaks=("o_custkey",), id_col="rid"
        )

    want = sorted(map(tuple, build().collect()))
    plain_plan = build()._jdf.queryExecution().executedPlan().toString()
    assert "percentile_approx" in plain_plan

    scratch = str(tmp_path / "ctx_scratch")
    os.makedirs(scratch)
    ctx = fr.BatchContext(spark, SF, scratch, derived_enabled=True)
    with fr.batch_context(ctx):
        df1 = build()
        df2 = build()  # identical rollup -> must reuse the same copy
        ctx_plan = df1._jdf.queryExecution().executedPlan().toString()
        got = sorted(map(tuple, df1.collect()))
    assert "percentile_approx" not in ctx_plan, (
        "edge rollup not replaced by the materialized scan"
    )
    derived = [d for d in os.listdir(scratch) if d.startswith("derived_")]
    assert len(derived) == 1, f"expected one memoized rollup, got {derived}"
    assert got == want
    # serial batches keep the lazy plan (A/B-measured slower eager)
    ctx_serial = fr.BatchContext(spark, SF, scratch, derived_enabled=False)
    with fr.batch_context(ctx_serial):
        serial_plan = build()._jdf.queryExecution().executedPlan().toString()
    assert "percentile_approx" in serial_plan


def test_run_batch_adhoc_members_derive_fragments(spark):
    """Round-9 candidate #1 (landed in r8): a dict batch may mix
    registered names with AD-HOC builders; the ad-hoc members'
    fragment consumption is derived from their analyzed plans at batch
    time, so a one-off query built through a canonical helper shares
    the batch's materialized fragments without registering anywhere.
    Results must equal standalone runs, and the derived consumption
    must actually tip the refcount (1 registered + 1 ad-hoc consumer
    = the fragment materializes)."""
    from cid_etl_spark.plans.batch import _resolve_members
    from cid_etl_spark.plans.fragments import token_stream

    def adhoc_lang_counts(spark_, sf_dir):
        return (
            token_stream(spark_, sf_dir)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
        )

    members = {"top_ngrams_per_lang": None, "lang_token_counts": adhoc_lang_counts}
    names, fns, qf = _resolve_members(spark, SF, members)
    assert names == ["top_ngrams_per_lang", "lang_token_counts"]
    assert qf["lang_token_counts"] == ("token_stream",)
    # 2 token_stream consumers -> the fragment is worth materializing
    assert plan_fragments(names, qf) == {"token_stream": 2}

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want_adhoc = rows(adhoc_lang_counts(spark, SF))
    from cid_etl_spark.queries import spark_queries

    want_reg = rows(spark_queries()["top_ngrams_per_lang"](spark, SF))
    got = run_batch(spark, SF, members, action=rows)
    assert got["lang_token_counts"] == want_adhoc
    assert got["top_ngrams_per_lang"] == want_reg


def test_shared_scan_covers_two_level_rollups(spark, tmp_path):
    """In the LARGE tier (two-level hybrid), BOTH derived rollups —
    the coarse percentile edges and the fine min/max refinement —
    materialize once each inside a batch context, and values match
    the no-context run."""
    import os

    from pyspark.sql import functions as F

    from cid_etl_spark.operators.aggregates import bucketed_row_number
    from cid_etl_spark.plans import fragments as fr
    from cid_etl_spark.sources.parquet import load_table

    base = load_table(spark, SF, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("v")
    )

    def build():
        return bucketed_row_number(
            base, "v", tiebreaks=("o_orderkey",), n_buckets=1024, id_col="rid"
        )

    want = sorted(map(tuple, build().collect()))
    scratch = str(tmp_path / "two_level_scratch")
    os.makedirs(scratch)
    ctx = fr.BatchContext(spark, SF, scratch, derived_enabled=True)
    with fr.batch_context(ctx):
        df = build()
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = sorted(map(tuple, df.collect()))
    assert "percentile_approx" not in plan
    derived = sorted(
        d.split("_")[1] for d in os.listdir(scratch) if d.startswith("derived_")
    )
    assert len(derived) == 2, f"expected edges + fine bounds, got {derived}"
    assert got == want


def test_run_batch_uri_scratch_root(spark, tmp_path):
    """ADVICE r8 #1: a scratch root given as a URI must be
    created and cleaned through the Hadoop FileSystem resolved from
    that URI — os.makedirs would have built a literal ``file:`` local
    directory and rmtree would never have removed the real one."""
    import os

    from cid_etl_spark.queries import spark_queries

    queries = spark_queries()
    root_local = tmp_path / "uri_scratch"
    os.makedirs(root_local)
    root_uri = f"file://{root_local}"

    def rows(df):
        return sorted(map(tuple, df.collect()))

    sub = ["tfidf_top_terms", "bm25_search_documents"]
    want = {n: rows(queries[n](spark, SF)) for n in sub}
    with _scratch_root(spark, root_uri):
        got = run_batch(spark, SF, sub, action=rows)
    for n in sub:
        assert got[n] == want[n]
    # no bogus local 'file:...' dir anywhere, and the per-batch subdir
    # under the REAL root was removed
    assert not os.path.exists("file:"), "URI treated as a local path"
    assert os.listdir(root_local) == []


def test_derived_path_propagates_build_failure(spark, tmp_path):
    """ADVICE r8 #2: when the winning thread's build raises, every
    waiter must re-raise the ORIGINAL exception — not a KeyError on
    the missing memo entry."""
    import os
    import threading

    from cid_etl_spark.plans import fragments as fr

    scratch = str(tmp_path / "fail_scratch")
    os.makedirs(scratch)
    ctx = fr.BatchContext(spark, SF, scratch, derived_enabled=True)
    gate = threading.Event()
    boom = RuntimeError("fragment build exploded")

    def failing_build(path):
        gate.wait(5)
        raise boom

    errors = {}

    def worker(name):
        try:
            ctx.derived_path("shared-key", failing_build)
        except BaseException as exc:  # noqa: BLE001
            errors[name] = exc

    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(3)
    ]
    for t in threads:
        t.start()
    gate.set()
    for t in threads:
        t.join(10)
    assert len(errors) == 3
    assert all(e is boom for e in errors.values()), errors
    # the key stays poisoned: later callers fail the same way, fast
    try:
        ctx.derived_path("shared-key", failing_build)
        raised = None
    except BaseException as exc:  # noqa: BLE001
        raised = exc
    assert raised is boom


def test_single_member_batch_skips_derived_rollups(spark, tmp_path):
    """ADVICE r8 #4: a single-member batch has nobody to overlap the
    eager rollup write with, so derived materialization must stay off
    even at the default max_concurrency."""
    import os

    from cid_etl_spark.queries import spark_queries

    queries = spark_queries()
    root = str(tmp_path / "single_scratch")
    os.makedirs(root)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    from cid_etl_spark.plans import fragments as fr

    made = []
    real_ctx = fr.BatchContext

    class Spy(real_ctx):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            made.append(self)

    name = "rfm_segmentation_customers"
    want = rows(queries[name](spark, SF))
    fr.BatchContext = Spy
    try:
        with _scratch_root(spark, root):
            got = run_batch(spark, SF, [name], action=rows)
    finally:
        fr.BatchContext = real_ctx
    assert got[name] == want
    assert len(made) == 1 and made[0].derived_enabled is False
    # and with derived off, shared_scan keeps the lazy plan
    ctx = real_ctx(spark, SF, root, derived_enabled=False)
    with fr.batch_context(ctx):
        assert fr.shared_scan(queries[name](spark, SF), "probe") is None
    assert os.listdir(root) == []


def test_stats_fragments_prune_to_old_plans(spark):
    """Round-9 stats-family fragments: standalone consumers of the
    monthly/daily sufficient-statistic frames must keep their
    pre-refactor optimized plans EXACTLY — Catalyst prunes the
    superset frame's unused aggregate expressions back to each
    member's old inline rollup (canonicalized plan equality, the
    user_event_seq argument made checkable)."""
    from cid_etl_spark.operators.aggregates import decimal_sum, money
    from cid_etl_spark.plans.fragments import (
        daily_order_cents,
        monthly_order_stats,
    )
    from cid_etl_spark.sources.parquet import load_table

    def canon(df):
        return (
            df._jdf.queryExecution().optimizedPlan().canonicalized().toString()
        )

    o = load_table(spark, SF, "orders")
    old_monthly_rev = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(decimal_sum("o_totalprice")).alias("revenue"),
    )
    old_seasonal = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(money(decimal_sum("o_totalprice")).alias("revenue"))
    old_cusum = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("bigint")
        .alias("cents")
    )
    old_daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    m = monthly_order_stats(spark, SF)
    assert canon(m.select("month", "n_orders", "revenue")) == canon(
        old_monthly_rev
    )
    assert canon(m.select("month", "revenue")) == canon(old_seasonal)
    assert canon(m.select("month", "cents")) == canon(old_cusum)
    assert canon(daily_order_cents(spark, SF)) == canon(old_daily)


def test_bucketed_facts_colocate_members(spark, tmp_path):
    """Round-9 bucketed-fact materialization (VERDICT r8 #5): a batch
    declaring {table: join_key} writes the fact ONCE as a
    bucketed+sorted catalog table; member plans built under the batch
    context scan the copy, whose HashPartitioning(key) removes every
    member-side Exchange on the declared key.  Values must be
    identical and the catalog must be clean afterwards."""
    import os

    from cid_etl_spark.plans import fragments as fr
    from cid_etl_spark.plans.batch import _write_bucketed_facts
    from cid_etl_spark.queries import spark_queries

    queries = spark_queries()
    members = [
        "window_topk_orders_per_customer",
        "lag_order_gaps",
        "window_running_revenue",
        "tpch_q13_customer_distribution",
    ]
    facts = {"orders": "o_custkey", "customer": "c_custkey"}

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def custkey_exchanges(name):
        plan = (
            queries[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return sum(
            1
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line and "custkey" in line
        )

    # every member shuffles on custkey standalone...
    assert all(custkey_exchanges(n) >= 1 for n in members)
    want = {n: rows(queries[n](spark, SF)) for n in members}
    got = run_batch(spark, SF, members, action=rows, bucket_facts=facts)
    for n in members:
        assert got[n] == want[n], f"bucketed batch differs for {n}"
    # catalog cleaned up
    leftovers = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("cid_etl_bucketed_")
    ]
    assert leftovers == []
    # ...and zero custkey exchanges against the bucketed copies
    scratch = str(tmp_path / "bucket_scratch")
    os.makedirs(scratch)
    ctx = fr.BatchContext(spark, SF, scratch, derived_enabled=False)
    tables = _write_bucketed_facts(spark, SF, ctx, facts, scratch)
    try:
        with fr.batch_context(ctx):
            for n in members:
                assert custkey_exchanges(n) == 0, n
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_token_stream_extension_prunes_to_old_plans(spark):
    """Round-9 subtree sweep follow-up: token_stream gained the
    ``source`` tag so the source-similarity and Zipf queries route
    through it — every consumer (old lexical and new) must keep its
    pre-extension optimized plan exactly via column pruning."""
    from cid_etl_spark.functions.text import tokens
    from cid_etl_spark.plans.fragments import token_stream
    from cid_etl_spark.sources.parquet import load_table

    def canon(df):
        return (
            df._jdf.queryExecution().optimizedPlan().canonicalized().toString()
        )

    d = load_table(spark, SF, "documents")
    ts = token_stream(spark, SF)
    old_lex = d.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
    old_src = d.select("source", F.explode(tokens("text")).alias("token"))
    old_zipf = d.select(F.explode(tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    assert canon(ts.select("doc_id", "lang", "tok")) == canon(old_lex)
    assert canon(
        ts.select("source", F.col("tok").alias("token"))
    ) == canon(old_src)
    assert canon(
        ts.select(F.col("tok").alias("token")).filter(F.col("token") != "")
    ) == canon(old_zipf)


def test_bm25_scores_fragment_prunes_to_old_plan(spark):
    """Round-9 subtree sweep follow-up #2: the BM25 score table was
    duplicated between the retrieval report and the hybrid RRF lexical
    channel (identical up to the final alias); both now build through
    the ``bm25_scores`` child fragment, and the report's standalone
    optimized plan must equal its pre-refactor inline form exactly."""
    from cid_etl_spark.plans.fragments import bm25_scores, doc_term_counts
    from cid_etl_spark.queries import spark_queries

    def canon(df):
        return (
            df._jdf.queryExecution().optimizedPlan().canonicalized().toString()
        )

    dtc = doc_term_counts(spark, SF)
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
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    score = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("len") / F.col("avgdl"))
    )
    old = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )
    new = spark_queries()["bm25_search_documents"](spark, SF)
    assert canon(new) == canon(old)
    # and the fragment itself is the un-cut score table
    assert sorted(bm25_scores(spark, SF).columns) == ["doc_id", "score"]


def test_bucketed_facts_single_sorted_file_per_bucket(spark, tmp_path):
    """ADVICE r9 #3: the bucketed copy must land as ONE sorted file per
    bucket — a spread (round-robin) input made every writer task emit a
    file per bucket, and Spark drops the ``sortBy`` metadata at read
    time when a bucket spans multiple files, leaving only the
    hash-partitioning benefit.  ``repartition(n, key)`` and
    ``bucketBy(n, key)`` share the murmur3 pmod assignment, so each
    writer task holds exactly one bucket."""
    import os
    import re

    from cid_etl_spark.plans import fragments as fr
    from cid_etl_spark.plans.batch import _write_bucketed_facts

    scratch = str(tmp_path / "bucket_scratch")
    os.makedirs(scratch)
    ctx = fr.BatchContext(spark, SF, scratch, derived_enabled=False)
    tables = _write_bucketed_facts(
        spark, SF, ctx, {"orders": ("o_custkey", 8)}, scratch
    )
    try:
        files = [
            f
            for f in os.listdir(os.path.join(scratch, "bucketed_orders"))
            if f.endswith(".parquet")
        ]
        # bucket id is the _NNNNN suffix in bucketed part-file names
        buckets = [re.search(r"_(\d{5})\.", f).group(1) for f in files]
        assert len(buckets) == len(set(buckets)), (
            f"multi-file buckets: {sorted(files)}"
        )
        # every row landed in its murmur3-pmod bucket: the copy is
        # value-identical and the bucketed scan stays exchange-free
        # (covered by test_bucketed_facts_colocate_members); here we
        # additionally pin that ALL rows survived the repartition
        assert (
            spark.table(tables[0]).count()
            == spark.read.parquet(os.path.join(SF, "orders.parquet")).count()
        )
        # ...and that the sortBy metadata now actually PAYS: with
        # single-file buckets the scan can report its output ordering
        # (spark.sql.legacy.bucketedTableScan.outputOrdering, off by
        # default since SPARK-28595 precisely because multi-file
        # buckets break it), so a sort-merge join on the bucket key
        # elides BOTH the Exchange and the Sort on the bucketed sides
        tables += _write_bucketed_facts(
            spark, SF, ctx, {"customer": ("c_custkey", 8)}, scratch
        )
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.enabled",
                "spark.sql.legacy.bucketedTableScan.outputOrdering",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
            )
            o, c = spark.table(tables[0]), spark.table(tables[1])
            j = o.join(c, o.o_custkey == c.c_custkey).select(
                "o_orderkey", "c_name"
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert plan.count("Exchange hashpartitioning") == 0
            assert plan.count("Sort [") == 0
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_facts_partial_failure_cleans_catalog(spark, tmp_path):
    """ADVICE r9 #1: when a later fact's write fails, the tables
    already created must be dropped (and popped from the context)
    before the exception propagates — previously the caller's
    ``tables`` list was never assigned on partial failure, leaking
    catalog entries that pointed at the deleted scratch dir for the
    session lifetime."""
    import os

    from cid_etl_spark.plans import fragments as fr
    from cid_etl_spark.plans.batch import _write_bucketed_facts

    scratch = str(tmp_path / "bucket_scratch")
    os.makedirs(scratch)
    ctx = fr.BatchContext(spark, SF, scratch, derived_enabled=False)
    before = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("cid_etl_bucketed_")
    }
    with pytest.raises(Exception):
        _write_bucketed_facts(
            spark,
            SF,
            ctx,
            # dict order: orders succeeds, then the bogus key fails
            {"orders": "o_custkey", "part": "no_such_column"},
            scratch,
        )
    after = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("cid_etl_bucketed_")
    }
    assert after == before, f"leaked catalog tables: {after - before}"
    assert ctx.bucketed_tables == {}


def test_auto_bucket_facts_gate_inert_at_fixture_scale(spark):
    """bucket_facts='auto' (round 11, VERDICT r10 #5): below the size
    gate — every test fixture — the advice is empty and the member
    plans are never built, so the new default changes nothing at small
    scale."""
    from cid_etl_spark.plans.batch import _resolve_members, advise_bucket_facts

    names, fns, _ = _resolve_members(spark, SF, BATCH)
    assert advise_bucket_facts(spark, SF, names, fns) == {}


def test_auto_bucket_facts_derives_shared_grain(spark):
    """With the gate lowered, the heuristic walks the members' analyzed
    plans and declares the fact ≥2 members join/group/window on the
    same key of — the customer-grain guard batch derives the same
    orders declaration its manual spec carries (customer itself gets
    only one vote in this member set and correctly stays undeclared)."""
    from cid_etl_spark.plans.batch import _resolve_members, advise_bucket_facts

    members = [
        "window_topk_orders_per_customer",
        "lag_order_gaps",
        "window_running_revenue",
        "rfm_segmentation_customers",
        "tpch_q13_customer_distribution",
    ]
    names, fns, _ = _resolve_members(spark, SF, members)
    assert advise_bucket_facts(spark, SF, names, fns, min_bytes=1) == {
        "orders": "o_custkey"
    }


def test_auto_bucket_facts_range_predicates_never_vote(spark):
    """A hash-bucketed layout cannot serve a range predicate: members
    theta-joining on BETWEEN/<= must not produce a declaration."""
    from cid_etl_spark.plans.batch import _equi_grain_names
    from cid_etl_spark.sources.parquet import load_table

    li = load_table(spark, SF, "lineitem")
    lo = li.select(F.col("l_quantity").alias("qlo"), "l_orderkey")
    hi = li.select(F.col("l_quantity").alias("qhi"), F.col("l_orderkey").alias("rk"))
    theta = lo.join(hi, (lo.qlo <= hi.qhi) & (lo.qlo >= hi.qhi - 1), "inner")
    names = _equi_grain_names(theta._jdf.queryExecution().analyzed())
    assert "qlo" not in names and "qhi" not in names


def test_run_batch_auto_threshold_override_matches_per_query(spark):
    """Force the auto path through the conf override: results stay
    row-identical to per-query runs and the advised bucketed copies are
    dropped by batch end."""
    from cid_etl_spark.queries import spark_queries

    members = [
        "window_topk_orders_per_customer",
        "lag_order_gaps",
        "tpch_q13_customer_distribution",
    ]
    queries = spark_queries()

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want = {n: rows(queries[n](spark, SF)) for n in members}
    spark.conf.set("spark.cid_etl.batch.autoBucketMinBytes", "1")
    try:
        got = run_batch(spark, SF, members, action=rows)  # default: auto
    finally:
        spark.conf.unset("spark.cid_etl.batch.autoBucketMinBytes")
    for n in members:
        assert got[n] == want[n], f"auto-bucketed batch differs for {n}"
    assert not [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("cid_etl_bucketed_")
    ]
