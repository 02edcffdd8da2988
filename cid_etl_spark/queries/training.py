"""Training-pipeline widening: composed near-dup curation, data lake
maintenance (X); the hard-negative and k-means rows live in
:mod:`.embeddings`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cid_etl_spark.operators.aggregates import (
    bucketed_cumsum,
    bucketed_row_number,
    count_if,
    exact_ntile,
    materialize_once,
    money,
)
from cid_etl_spark.operators.dedup import minhash_dedup_pairs
from cid_etl_spark.sources.parquet import load_table


from cid_etl_spark.queries._registry import _register
from cid_etl_spark.session import scratch_dir
from cid_etl_spark.queries.roundtrips import _minhash_verified_sql, minhash_lsh_verified

# ---------------------------------------------------------------------------
# X. Round-2 continuation: training-pipeline widening — composed near-dup
#    curation (LSH → CC → survivors), contrastive hard negatives, data
#    quality expectations, CDC merge with deletes, skew-salted join,
#    multigrain rollup, GDPR erasure, URL parsing.
# ---------------------------------------------------------------------------


def _neardup_curation_sql() -> str:
    """Compose the md5-MinHash-LSH oracle with the recursive-CTE
    connected-components oracle: pairs → transitive closure → drop
    non-minimum members → per-language stats of the kept corpus."""
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_verified_sql()}),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    cc(node, label) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.b, cc.label
        FROM cc JOIN edges e ON e.a = cc.node
    ),
    dropped AS (
        SELECT node FROM cc GROUP BY node HAVING node <> MIN(label)
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM dropped)
    GROUP BY d.lang
    """


@_register("neardup_curation_pipeline", _neardup_curation_sql())
def neardup_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END near-duplicate curation pipeline under a hard
    oracle — the composed shape a 100 TB corpus actually runs:
    MinHash-LSH candidate pairs (md5-replicable variant, so DuckDB can
    replay the signatures) → connected components over the pair graph
    (operators.graph.connected_components) → keep the minimum doc of
    each duplicate cluster → per-language corpus report.  This is the
    second flagship next to corpus_curation_pipeline (which covers the
    exact-dedup + quality path); together they pin both dedup families
    end to end.  Scale shape: banded LSH (never all-pairs), CC rounds
    bounded by dup-cluster diameter (small by construction), one
    broadcast-able drop list (dup members are a corpus fraction), and
    a map-side rollup."""
    from cid_etl_spark.operators.graph import connected_components

    # Materialize the (tiny) pair list before CC: the iterative rounds
    # consume it repeatedly, and without the barrier each round's
    # action replays the whole LSH signature+band pipeline — the
    # round-2 bench regression was exactly this recompute.
    pairs = (
        minhash_lsh_verified(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    cc = connected_components(pairs, "id_a", "id_b")
    dropped = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    d = load_table(spark, sf_dir, "documents")
    kept = d.join(dropped, "doc_id", "left_anti")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@_register(
    "data_quality_expectations",
    """
    SELECT 'orders.o_custkey.completeness' AS expectation,
           round(CAST(count(o_custkey) AS DOUBLE) / count(*), 6) AS value
    FROM orders
    UNION ALL
    SELECT 'orders.o_orderkey.uniqueness',
           round(CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*), 6)
    FROM orders
    UNION ALL
    SELECT 'orders.o_totalprice.positive_fraction',
           round(CAST(SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6)
    FROM orders
    UNION ALL
    SELECT 'documents.text.completeness',
           round(CAST(count(text) AS DOUBLE) / count(*), 6)
    FROM documents
    UNION ALL
    SELECT 'documents.lang.in_allowed_set',
           round(CAST(SUM(CASE WHEN lang IN ('en','pt','es','de','fr')
                               THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
    FROM documents
    UNION ALL
    SELECT 'events.value.completeness',
           round(CAST(count(value) AS DOUBLE) / count(*), 6)
    FROM events
    """,
)
def data_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality expectations as a single metrics table:
    completeness (non-null fraction), uniqueness (distinct/total),
    domain containment, and range checks — the validation gate every
    production ingest runs before data reaches training.  Each source
    table is scanned ONCE (its metrics compute in one aggregate pass,
    map-side partials); the per-table 1-row results union into the
    long-format report.  At 100 TB this costs one pass per table —
    same bound as DataFrame.observe, which observed_quality wires for
    the zero-extra-pass variant."""
    o = load_table(spark, sf_dir, "orders")
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "events")
    cnt = F.count(F.lit(1)).cast("double")

    def frac(num: F.Column) -> F.Column:
        return F.round(num.cast("double") / cnt, 6)

    o_m = o.agg(
        frac(F.count("o_custkey")).alias("c1"),
        frac(F.countDistinct("o_orderkey")).alias("c2"),
        frac(count_if(F.col("o_totalprice") > 0)).alias("c3"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("orders.o_custkey.completeness").alias("expectation"),
                    F.col("c1").alias("value"),
                ),
                F.struct(
                    F.lit("orders.o_orderkey.uniqueness").alias("expectation"),
                    F.col("c2").alias("value"),
                ),
                F.struct(
                    F.lit("orders.o_totalprice.positive_fraction").alias("expectation"),
                    F.col("c3").alias("value"),
                ),
            )
        ).alias("kv")
    ).select("kv.expectation", "kv.value")
    d_m = d.agg(
        frac(F.count("text")).alias("c1"),
        frac(count_if(F.col("lang").isin("en", "pt", "es", "de", "fr"))).alias("c2"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("documents.text.completeness").alias("expectation"),
                    F.col("c1").alias("value"),
                ),
                F.struct(
                    F.lit("documents.lang.in_allowed_set").alias("expectation"),
                    F.col("c2").alias("value"),
                ),
            )
        ).alias("kv")
    ).select("kv.expectation", "kv.value")
    e_m = e.agg(frac(F.count("value")).alias("c1")).select(
        F.lit("events.value.completeness").alias("expectation"),
        F.col("c1").alias("value"),
    )
    return o_m.unionByName(d_m).unionByName(e_m)


@_register(
    "cdc_merge_full",
    """
    WITH base AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus,
               'I' AS op, 0 AS seq
        FROM orders WHERE o_orderkey % 4 <> 3
    ), upserts AS (
        SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice,
               o_orderstatus, 'U' AS op, 1 AS seq
        FROM orders WHERE o_orderkey % 3 = 0
    ), deletes AS (
        SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice,
               CAST(NULL AS VARCHAR) AS o_orderstatus, 'D' AS op, 2 AS seq
        FROM orders WHERE o_orderkey % 10 = 7
    ), feed AS (
        SELECT * FROM base
        UNION ALL SELECT * FROM upserts
        UNION ALL SELECT * FROM deletes
    ), latest AS (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderkey ORDER BY seq DESC
        ) AS rn
        FROM feed
    )
    SELECT o_orderkey,
           round(o_totalprice, 2) AS o_totalprice,
           o_orderstatus,
           op AS last_op
    FROM latest
    WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC MERGE semantics — insert + update + DELETE in one
    latest-wins pass (the Delta MERGE INTO shape without a table
    format): the change feed unions onto the base snapshot with a
    monotone sequence, one key-window picks the newest version per
    key, and terminal deletes drop out.  Covers the three MERGE
    branches the SCD1 upsert query (scd_upsert_orders) doesn't: delete
    application, insert-only keys arriving via the feed, and deletes
    of absent keys (no-ops).  One shuffle on the merge key; at 100 TB
    the same window runs per key-range partition."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    base = o.filter(F.col("o_orderkey") % 4 != 3).select(
        "o_orderkey", "o_totalprice", "o_orderstatus",
        F.lit("I").alias("op"), F.lit(0).alias("seq"),
    )
    upserts = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
        "o_orderstatus",
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    deletes = o.filter(F.col("o_orderkey") % 10 == 7).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit("D").alias("op"), F.lit(2).alias("seq"),
    )
    feed = base.unionByName(upserts).unionByName(deletes)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    return (
        feed.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "o_orderstatus",
            F.col("op").alias("last_op"),
        )
    )


@_register(
    "salted_join_events_hot",
    """
    WITH dim AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_user_events
        FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(d.n_user_events) AS BIGINT) AS sum_user_activity
    FROM events e
    JOIN dim d ON e.user_id = d.user_id
    GROUP BY e.event_type
    """,
)
def salted_join_events_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi join under a hard oracle: the event fact joins
    a per-user activity dim through operators.joins.salted_join — hot
    users spread across 16 sub-keys, the dim replicated per bucket —
    and the result aggregates per event type.  The oracle is the PLAIN
    join (salting is physically different, row-identical by contract;
    this row proves that contract on real data, complementing the
    unit test).  Reach for this shape when AQE can't split the skew
    (broadcast-ineligible build side, window over the same hot key)."""
    from cid_etl_spark.operators.joins import salted_join

    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    dim = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_user_events")
    )
    joined = salted_join(e, dim, on="user_id", salt_buckets=16)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("n_user_events").cast("bigint").alias("sum_user_activity"),
    )


@_register(
    "multigrain_time_rollup",
    """
    SELECT CAST(year(ts) AS INTEGER) AS y,
           CAST(month(ts) AS INTEGER) AS m,
           CAST(day(ts) AS INTEGER) AS d,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((year(ts)),
                            (year(ts), month(ts)),
                            (year(ts), month(ts), day(ts)))
    """,
)
def multigrain_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: year, year-month and
    year-month-day aggregates of the event stream in ONE pass via
    GROUPING SETS — Spark expands each row into its three grain keys
    before the partial aggregation, so the fact scans once instead of
    three times (the naive union-of-three-groupbys).  The day-grain
    dominates the expanded row count; coarser grains are nearly free.
    This is the batch shape of a streaming tiered-rollup sink."""
    e = load_table(spark, sf_dir, "events")
    g = e.select(
        F.year("ts").cast("int").alias("y"),
        F.month("ts").cast("int").alias("m"),
        F.dayofmonth("ts").cast("int").alias("d"),
        F.col("value"),
    )
    return g.groupingSets(
        [["y"], ["y", "m"], ["y", "m", "d"]], "y", "m", "d"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        money(F.sum(F.col("value").cast("decimal(18,4)"))).alias("sum_value"),
    )


@_register(
    "gdpr_erasure_cascade",
    """
    WITH cohort AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
    ), kept AS (
        SELECT e.* FROM events e
        WHERE e.user_id NOT IN (SELECT user_id FROM cohort)
    )
    SELECT 'events' AS entity,
           CAST((SELECT count(*) FROM events) - (SELECT count(*) FROM kept)
                AS BIGINT) AS rows_purged,
           CAST((SELECT count(*) FROM kept) AS BIGINT) AS rows_kept
    UNION ALL
    SELECT 'users',
           CAST((SELECT count(*) FROM cohort) AS BIGINT),
           CAST((SELECT count(DISTINCT user_id) FROM kept) AS BIGINT)
    """,
)
def gdpr_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure purge with an audit report: a deletion cohort
    (here a deterministic user sample standing in for the request
    queue) anti-joins out of the event store, and the report counts
    purged/kept rows AND purged/kept distinct users from the actual
    anti-join output — auditing the result, not the promise.  The
    cohort broadcasts (request queues are small); the purge is one
    map-side anti join per table, the pattern that extends to every
    user-keyed table in the lake."""
    e = load_table(spark, sf_dir, "events")
    cohort = e.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    kept = e.join(F.broadcast(cohort), "user_id", "left_anti")
    tot = e.agg(
        F.count(F.lit(1)).alias("n_total"),
    )
    kept_stats = kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.countDistinct("user_id").alias("u_kept"),
    )
    coh_n = cohort.agg(F.count(F.lit(1)).alias("n_cohort"))
    row = (
        tot.crossJoin(kept_stats).crossJoin(coh_n)
    )
    ev = row.select(
        F.lit("events").alias("entity"),
        (F.col("n_total") - F.col("n_kept")).cast("bigint").alias("rows_purged"),
        F.col("n_kept").cast("bigint").alias("rows_kept"),
    )
    us = row.select(
        F.lit("users").alias("entity"),
        F.col("n_cohort").cast("bigint").alias("rows_purged"),
        F.col("u_kept").cast("bigint").alias("rows_kept"),
    )
    return ev.unionByName(us)


@_register(
    "parse_url_suite",
    """
    WITH u AS (
        SELECT doc_id,
               'https://' || source || '.example.org/d/' || doc_id
                 || '?lang=' || lang || '&p=1' AS url
        FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^https://([^/]+)/', 1) AS host,
           regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, 'lang=([^&]*)', 1) AS lang_param
    FROM u
    """,
)
def parse_url_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing for web-corpus curation (host-level quotas, path
    dedup, tracking-param stripping all start here): Spark's native
    parse_url extracts HOST/PATH/QUERY-param JVM-side; the DuckDB twin
    replays with regexes.  Pure codegen, shuffle-free — the shape that
    feeds domain_quota_sample's per-host caps at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/d/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
        F.lit("&p=1"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@_register(
    "curriculum_phases",
    """
    WITH scored AS (
        SELECT doc_id, lang, n_chars,
               round(CAST(n_chars AS DOUBLE)
                     / greatest(len(string_split_regex(trim(text), '\\s+')), 1),
                     6) AS difficulty
        FROM documents
    ), phased AS (
        SELECT doc_id, lang, difficulty,
               ntile(4) OVER (ORDER BY difficulty, doc_id) AS phase
        FROM scored
    )
    SELECT phase, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(difficulty), 6) AS min_difficulty,
           round(max(difficulty), 6) AS max_difficulty
    FROM phased
    GROUP BY phase, lang
    """,
)
def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: rank the corpus by a difficulty proxy
    (mean token length — longer tokens ≈ rarer vocabulary) and cut it
    into four training phases, reporting per-phase composition.  The
    deterministic (difficulty, doc_id) order makes phase boundaries
    engine-stable.  The r5 form ran a GLOBAL ``ntile(4)`` — a
    single-partition sort of every document, exactly the anti-pattern
    this round's plan audit (``spw`` column) exists to catch.  Now the
    global rank comes from ``bucketed_row_number`` (range-bucket
    shuffle + per-bucket rank + 1024-row offset rollup) and the phase
    from the exact ntile arithmetic on that rank and the corpus count
    (a broadcast 1-row aggregate, kept lazy): with n = 4q + rem, rank
    r ≤ rem·(q+1) ⇒ phase ceil(r/(q+1)), else rem + ceil((r −
    rem·(q+1))/q) — bit-identical to ntile, no single-partition
    stage; the oracle keeps the plain ntile SQL."""
    d = load_table(spark, sf_dir, "documents")
    difficulty = F.round(
        F.col("n_chars").cast("double")
        / F.greatest(
            F.size(F.split(F.trim(F.col("text")), r"\s+")), F.lit(1)
        ),
        6,
    )
    scored = d.select("doc_id", "lang", difficulty.alias("difficulty"))
    total = scored.agg(F.count(F.lit(1)).alias("__n"))
    ranked = bucketed_row_number(
        scored, "difficulty", tiebreaks=("doc_id",), id_col="__r"
    ).join(F.broadcast(total))
    phase = exact_ntile(F.col("__r"), F.col("__n"), 4)
    phased = ranked.withColumn("phase", phase).drop("__r", "__n")
    return phased.groupBy("phase", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.min("difficulty"), 6).alias("min_difficulty"),
        F.round(F.max("difficulty"), 6).alias("max_difficulty"),
    )


@_register(
    "recursive_month_spine",
    """
    WITH RECURSIVE bounds AS (
        SELECT date_trunc('month', min(o_orderdate)) AS lo,
               date_trunc('month', max(o_orderdate)) AS hi
        FROM orders
    ), seed AS (
        SELECT CAST(lo AS TIMESTAMP) + to_months(CAST(t.i AS INTEGER)) AS m
        FROM bounds, LATERAL unnest(range(0, 12)) t(i)
    ), spine(m) AS (
        SELECT m FROM seed
        UNION ALL
        SELECT m + INTERVAL 12 MONTH FROM spine
        WHERE m + INTERVAL 12 MONTH <= (SELECT hi FROM bounds)
    ), months AS (
        SELECT m FROM spine WHERE m <= (SELECT hi FROM bounds)
    ), rev AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    )
    SELECT strftime(s.m, '%Y-%m') AS month,
           CAST(round(coalesce(rev.r, 0), 2) AS DOUBLE) AS revenue,
           coalesce(rev.n, 0) AS n_orders
    FROM months s LEFT JOIN rev ON s.m = rev.m
    """,
)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the engine's OWN SQL surface (Spark 4
    WITH RECURSIVE): generate the complete month spine between the
    first and last order and left-join monthly revenue, so gap months
    appear as explicit zero rows — the calendar-completion shape every
    reporting pipeline needs (a GROUP BY alone silently drops empty
    months).  DuckDB replays the identical recursive SQL.  Complements
    resample_gapfill_events, which fills gaps with sequence+explode
    instead — two engine surfaces, one semantic, both oracled.

    Physical notes: the recursion advances a YEAR of months per step
    (depth = span/12) because every recursive step is a Spark job —
    month-at-a-time recursion costs ~80 serialized jobs (~48 s at
    sf0.1); and the date bounds inline as literals via one bounded
    1-row action, because a scalar subquery in the recursion condition
    re-aggregates the fact table EVERY step (measured 10.8 s → ~2 s).
    """
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    b = o.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    ).collect()[0]
    lo, hi = str(b.lo), str(b.hi)
    return spark.sql(
        f"""
        WITH RECURSIVE seed AS (
            SELECT TIMESTAMP '{lo}' + make_ym_interval(0, i) AS m
            FROM (SELECT explode(sequence(0, 11)) AS i)
        ), spine(m) AS (
            SELECT m FROM seed
            UNION ALL
            SELECT m + INTERVAL 12 MONTH FROM spine
            WHERE m + INTERVAL 12 MONTH <= TIMESTAMP '{hi}'
        ), months AS (
            SELECT m FROM spine WHERE m <= TIMESTAMP '{hi}'
        ), rev AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY 1
        )
        SELECT date_format(s.m, 'yyyy-MM') AS month,
               CAST(round(coalesce(rev.r, 0), 2) AS DOUBLE) AS revenue,
               coalesce(rev.n, CAST(0 AS BIGINT)) AS n_orders
        FROM months s LEFT JOIN rev ON s.m = rev.m
        """
    )


@_register(
    "recursive_supplier_tree",
    """
    WITH RECURSIVE walk(node, root, depth) AS (
        SELECT s_suppkey, s_suppkey, 0
        FROM supplier WHERE s_suppkey <= 1
        UNION ALL
        SELECT s.s_suppkey, w.root, w.depth + 1
        FROM supplier s JOIN walk w ON s.s_suppkey // 2 = w.node
        WHERE s.s_suppkey > 1
    )
    SELECT depth,
           CAST(count(*) AS BIGINT) AS n_nodes,
           min(node) AS min_node,
           max(node) AS max_node
    FROM walk GROUP BY depth
    """,
)
def recursive_supplier_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy traversal via recursive CTE (org charts, BOM
    explosions, category trees): suppliers form a synthetic binary
    tree (parent = key div 2, the heap layout) and the recursion walks
    it from the roots, counting nodes per depth.  Each recursion level
    is one join against the previous frontier — the same physical
    shape as operators.graph.connected_components' rounds, but driven
    by the engine's native WITH RECURSIVE machinery; depth is bounded
    by log2(N).  DuckDB replays the identical SQL (integer-exact)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        """
        WITH RECURSIVE walk(node, root, depth) AS (
            SELECT s_suppkey, s_suppkey, 0
            FROM supplier WHERE s_suppkey <= 1
            UNION ALL
            SELECT s.s_suppkey, w.root, w.depth + 1
            FROM supplier s JOIN walk w ON CAST(s.s_suppkey / 2 AS BIGINT) = w.node
            WHERE s.s_suppkey > 1
        )
        SELECT depth,
               CAST(count(*) AS BIGINT) AS n_nodes,
               min(node) AS min_node,
               max(node) AS max_node
        FROM walk GROUP BY depth
        """
    )


def _bpe_round_sql(prev: str, step: int) -> str:
    """One unrolled BPE round for the DuckDB twin: adjacent-pair counts
    over the current token rows, argmax merge choice (count desc, then
    lexicographic pair), greedy non-overlapping apply."""
    return f"""
    p{step} AS (
        SELECT tok AS a,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
        FROM {prev}
    ), c{step} AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS n
        FROM p{step} WHERE b IS NOT NULL AND a <> b
        GROUP BY a, b
    ), best{step} AS (
        SELECT a, b, n FROM c{step}
        ORDER BY n DESC, a ASC, b ASC LIMIT 1
    ), m{step} AS (
        SELECT r.doc_id, r.pos, r.tok,
               lead(r.tok) OVER (PARTITION BY r.doc_id ORDER BY r.pos) AS nxt,
               lag(r.tok)  OVER (PARTITION BY r.doc_id ORDER BY r.pos) AS prv
        FROM {prev} r
    ), r{step} AS (
        SELECT m.doc_id, m.pos,
               CASE WHEN m.tok = b.a AND m.nxt = b.b
                    THEN m.tok || ' ' || m.nxt ELSE m.tok END AS tok
        FROM m{step} m CROSS JOIN best{step} b
        WHERE NOT (m.prv = b.a AND m.tok = b.b)
           OR m.prv IS NULL
    )"""


@_register(
    "bpe_train_rounds",
    f"""
    WITH r0 AS (
        SELECT doc_id, t.i AS pos,
               list_extract(string_split_regex(lower(trim(text)), '\\s+'), t.i) AS tok
        FROM documents,
             LATERAL unnest(range(1, len(string_split_regex(lower(trim(text)), '\\s+')) + 1)) t(i)
        WHERE doc_id % 20 = 0
    ),{_bpe_round_sql("r0", 1)},{_bpe_round_sql("r1", 2)},{_bpe_round_sql("r2", 3)}
    SELECT 1 AS step, a AS pair_a, b AS pair_b, n AS pair_count FROM best1
    UNION ALL
    SELECT 2, a, b, n FROM best2
    UNION ALL
    SELECT 3, a, b, n FROM best3
    """,
)
def bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training (3 merge rounds) — the actual
    training LOOP, beyond the single pair-count pass of
    bpe_pair_counts: each round counts adjacent token pairs, picks the
    most frequent (count desc, lexicographic tiebreak; a≠b so greedy
    application never overlaps), merges it corpus-wide, and the next
    round counts over the MERGED stream — so any divergence compounds,
    making the 3-round trace a sharp cross-engine check.  Word-level
    tokens ("phrase BPE") keep both tokenizations trivially identical.

    Scale shape per round: one doc-keyed window pass (all three window
    functions share the same (doc_id, pos) sort), a pair rollup with
    map-side partials, and a 1-ROW argmax broadcast back — the merge
    apply is map-side.  The doc-keyed partitioning is reusable across
    all rounds; position gaps left by merges are harmless because
    adjacency is by lead(), not pos arithmetic.  The DuckDB twin
    unrolls the same three rounds."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    steps = []
    cur = toks
    for step in (1, 2, 3):
        pairs = cur.select(
            "doc_id", "pos", "tok", F.lead("tok").over(w).alias("nxt")
        )
        counts = (
            pairs.filter(F.col("nxt").isNotNull() & (F.col("tok") != F.col("nxt")))
            .groupBy(F.col("tok").alias("a"), F.col("nxt").alias("b"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        best = counts.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1)
        steps.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("a").alias("pair_a"),
                F.col("b").alias("pair_b"),
                F.col("n").alias("pair_count"),
            )
        )
        marked = cur.select(
            "doc_id",
            "pos",
            "tok",
            F.lead("tok").over(w).alias("nxt"),
            F.lag("tok").over(w).alias("prv"),
        ).crossJoin(F.broadcast(best))
        cur = marked.filter(
            F.col("prv").isNull() | ~((F.col("prv") == F.col("a")) & (F.col("tok") == F.col("b")))
        ).select(
            "doc_id",
            "pos",
            F.when(
                (F.col("tok") == F.col("a")) & (F.col("nxt") == F.col("b")),
                F.concat(F.col("tok"), F.lit(" "), F.col("nxt")),
            )
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


@_register(
    "psi_drift_orders",
    """
    WITH binned AS (
        SELECT least(CAST(floor(o_totalprice / 50000.0) AS INTEGER), 9) AS bin,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                    THEN 'a' ELSE 'b' END AS period
        FROM orders
    ), counts AS (
        SELECT bin,
               CAST(SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT SUM(n_a) AS t_a, SUM(n_b) AS t_b FROM counts
    )
    SELECT c.bin,
           round(CAST(c.n_a AS DOUBLE) / t.t_a, 6) AS pct_a,
           round(CAST(c.n_b AS DOUBLE) / t.t_b, 6) AS pct_b,
           round((CAST(c.n_a AS DOUBLE) / t.t_a - CAST(c.n_b AS DOUBLE) / t.t_b)
                 * ln(greatest(CAST(c.n_a AS DOUBLE) / t.t_a, 1e-6)
                      / greatest(CAST(c.n_b AS DOUBLE) / t.t_b, 1e-6)), 6)
             AS psi_term
    FROM counts c, tot t
    """,
)
def psi_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two order periods — the
    distribution-drift monitor a training pipeline runs before mixing
    a new data dump into the corpus (price distribution standing in
    for any feature).  FIXED bin edges (10 × 50k, top-clamped) keep
    bins engine-stable; per-bin shares divide exact counts (identical
    IEEE quotients both engines), and the epsilon guard inside ln
    handles empty bins the standard way.  One fact pass → 10-row
    rollup → 1-row totals broadcast back; the same plan at 100 TB is
    scan-bound."""
    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / 50000.0).cast("int"), F.lit(9)
        ).alias("bin"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"), "a"
        )
        .otherwise("b")
        .alias("period"),
    )
    counts = binned.groupBy("bin").agg(
        count_if(F.col("period") == "a").alias("n_a"),
        count_if(F.col("period") == "b").alias("n_b"),
    )
    tot = counts.agg(F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b"))
    pa = F.col("n_a").cast("double") / F.col("t_a")
    pb = F.col("n_b").cast("double") / F.col("t_b")
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.round(pa, 6).alias("pct_a"),
        F.round(pb, 6).alias("pct_b"),
        F.round(
            (pa - pb) * F.log(F.greatest(pa, F.lit(1e-6)) / F.greatest(pb, F.lit(1e-6))),
            6,
        ).alias("psi_term"),
    )


@_register(
    "incremental_agg_maintenance",
    """
    SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CAST(o_orderdate AS DATE)
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the daily-revenue
    rollup is NOT recomputed from scratch — an existing state snapshot
    (orders before the cutoff, standing in for yesterday's stored
    aggregate) merges with partials over only the NEW batch, combining
    sums and counts per day.  The oracle is the full direct rollup, so
    this row proves merge(state, delta) == recompute(all) — the
    correctness contract that lets a 100 TB pipeline touch only the
    new partition each day instead of re-scanning years of history.
    Decomposable aggregates (sum/count here; min/max/HLL union in
    general) are exactly the ones this works for; AVG must be carried
    as sum+count, which the schema does."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01 00:00:00").cast("timestamp")
    day = F.col("o_orderdate").cast("date").alias("day")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    # "stored" state: pre-cutoff rollup (in production: read back from
    # the state table, not recomputed — shape is identical)
    state = o.filter(F.col("o_orderdate") < cutoff).groupBy(day).agg(
        F.sum(price).alias("rev_part"), F.count(F.lit(1)).alias("n_part")
    )
    delta = o.filter(F.col("o_orderdate") >= cutoff).groupBy(day).agg(
        F.sum(price).alias("rev_part"), F.count(F.lit(1)).alias("n_part")
    )
    merged = (
        state.unionByName(delta)
        .groupBy("day")
        .agg(F.sum("rev_part").alias("rev"), F.sum("n_part").alias("n"))
    )
    return merged.select(
        F.col("day").cast("string").alias("day"),
        money(F.col("rev")).alias("revenue"),
        F.col("n").cast("bigint").alias("n_orders"),
    )


@_register(
    "pseudonymize_events",
    """
    WITH p AS (
        SELECT sha256('corpus-salt-v1:' || CAST(user_id AS VARCHAR)) AS user_pseudo,
               event_type, value
        FROM events
    )
    SELECT substr(user_pseudo, 1, 16) AS user_token,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(round(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM p
    GROUP BY substr(user_pseudo, 1, 16)
    """,
)
def pseudonymize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization (privacy-preserving analytics):
    user ids are replaced by a salted sha256 token BEFORE any
    aggregation, and the rollup proves analytic utility survives —
    per-token counts equal per-user counts because the mapping is
    injective.  The salt would live in a secret store in production;
    rotating it unlinks historical tokens.  Map-side hash + one
    token-keyed shuffle, the same plan as the raw-id rollup — privacy
    here costs one codegen'd hash per row."""
    e = load_table(spark, sf_dir, "events")
    token = F.substring(
        F.sha2(
            F.concat(F.lit("corpus-salt-v1:"), F.col("user_id").cast("string")), 256
        ),
        1,
        16,
    )
    return (
        e.select(token.alias("user_token"), "event_type", "value")
        .groupBy("user_token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("event_type").cast("bigint").alias("n_types"),
            money(F.sum(F.col("value").cast("decimal(18,4)"))).alias("sum_value"),
        )
    )


def _pretraining_pipeline_sql() -> str:
    """DuckDB twin of the composed pretraining pipeline: every stage —
    quality gate, exact dedup, md5-MinHash-LSH near-dup + recursive-CTE
    clustering, shingle-overlap decontamination, per-source quota,
    512-token packing — replayed in one SQL chain."""
    from cid_etl_spark.queries.roundtrips import (
        _VERIFIED_PAIRS_CTE,
        _minhash_candidate_ctes,
    )

    gram_expr = (
        r"list_distinct(list_transform("
        r"range(1, greatest(len(string_split_regex(t, '\s+')) - 2, 1) + 1),"
        r" i -> array_to_string(string_split_regex(t, '\s+')[i:i+2], ' ')))"
    )
    # decontamination uses LONG grams (8 words, the GPT-3/PaLM-style
    # contamination rule): 3-gram overlap would flag nearly every
    # document against any benchmark set sharing a vocabulary
    gram8_expr = (
        r"list_distinct(list_transform("
        r"range(1, greatest(len(string_split_regex(t, '\s+')) - 7, 1) + 1),"
        r" i -> array_to_string(string_split_regex(t, '\s+')[i:i+7], ' ')))"
    )
    return rf"""
    WITH RECURSIVE corpus0 AS (
        SELECT doc_id, lang, source, n_chars, lower(trim(text)) AS t
        FROM documents WHERE doc_id % 101 <> 0
    ), quality AS (
        SELECT * FROM corpus0
        WHERE n_chars BETWEEN 100 AND 20000
          AND len(string_split_regex(t, '\s+')) >= 20
    ), exact AS (
        SELECT * FROM quality
        QUALIFY row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1
    ), sh AS (
        SELECT doc_id, {gram_expr} AS grams FROM exact
    ), {_minhash_candidate_ctes()}, {_VERIFIED_PAIRS_CTE}, edges AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM verified
    ), cc(node, label) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.b, cc.label FROM cc JOIN edges e ON e.a = cc.node
    ), dropped AS (
        SELECT node FROM cc GROUP BY node HAVING node <> MIN(label)
    ), neardup_kept AS (
        SELECT * FROM exact
        WHERE doc_id NOT IN (SELECT node FROM dropped)
    ), bench AS (
        SELECT lower(trim(text)) AS t FROM documents
        WHERE doc_id % 101 = 0
          AND len(string_split_regex(lower(trim(text)), '\s+')) >= 8
    ), bench_grams AS (
        SELECT DISTINCT unnest({gram8_expr}) AS g FROM bench
    ), contaminated AS (
        SELECT DISTINCT k.doc_id
        FROM neardup_kept k, LATERAL unnest({gram8_expr}) u(g)
        WHERE u.g IN (SELECT g FROM bench_grams)
    ), clean AS (
        SELECT * FROM neardup_kept
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), quota AS (
        SELECT * FROM clean
        QUALIFY row_number() OVER (
            PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ) <= 200
    ), toks AS (
        SELECT doc_id, lang,
               len(string_split_regex(t, '\s+')) AS n_tok
        FROM quota
    ), packed AS (
        SELECT lang, n_tok,
               CAST(floor(coalesce(SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 512.0) AS BIGINT) AS seq_id
        FROM toks
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM packed
    GROUP BY lang
    """


@_register("pretraining_data_pipeline", _pretraining_pipeline_sql())
def pretraining_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone: a COMPLETE pretraining-data pipeline as ONE lazy
    plan — quality gate → exact dedup → MinHash-LSH near-dup with
    connected-component clustering → benchmark decontamination →
    per-source quota → 512-token sequence packing → per-language
    report — with every stage replayed by the DuckDB twin (the md5
    hash family keeps the LSH engine-replicable).  This is the query a
    reference user actually ships: the individual stages are each
    oracled standalone elsewhere; this row proves they COMPOSE.

    Scale sketch, stage by stage: the quality gate is scan-side; exact
    dedup is one key-window; LSH is banded (never all-pairs) and the
    verify join moves shingle arrays for candidates only; CC rounds
    are bounded by dup-cluster diameter; decontamination explodes
    grams once and probes a broadcast benchmark gram set map-side; the
    quota is a per-source window; packing reuses the language
    partitioning.  No stage funnels through the driver."""
    from cid_etl_spark.operators.dedup import shingles
    from cid_etl_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    corpus0 = docs.filter(F.col("doc_id") % 101 != 0)
    # project the normalized text ONLY (r14, guide §2.3 "project before
    # the exchange"): every downstream consumer — the exact-dedup md5
    # window, shingling (n=3 and n=8; shingles() lower/trims its input,
    # and lower∘trim is idempotent, so grams over __t equal grams over
    # text), token counting — reads lower(trim(text)), so carrying the
    # raw text column through the dedup shuffle doubled its bytes
    quality = corpus0.filter(
        F.col("n_chars").between(100, 20000) & (words >= 20)
    ).select(
        "doc_id", "lang", "source",
        F.lower(F.trim(F.col("text"))).alias("__t"),
    )
    w_exact = Window.partitionBy(F.md5(F.col("__t"))).orderBy("doc_id")
    # materialize the deduped corpus once (r14, guide §5): exact is
    # consumed FOUR times — the signature build, the candidate verify,
    # the contamination gram explode, and the clean anti-join — and
    # left lazy each consumer re-ran the scan + the full-corpus md5
    # window shuffle (the single biggest recompute in the r13 plan; this
    # query was the costliest untouched path, VERDICT r13 next-round #1)
    exact = materialize_once(
        quality.withColumn("__rn", F.row_number().over(w_exact))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # hot-bucket guard ON (explicit cap): this is the scale capstone;
    # fixtures never trip 2000 and a firing is WARNING-logged, so the
    # uncapped DuckDB twin stays attributably faithful.  The verify runs
    # at 0 and the oracle's threshold applies to the ROUNDED Jaccard.
    pairs = (
        minhash_dedup_pairs(
            exact, "doc_id", "__t", shingle_n=3, num_hashes=16, num_bands=4,
            threshold=0.0, seed=42, max_bucket_size=2000, base_hash="md5",
        )
        .filter(F.round("jaccard", 4) >= 0.2)
        .select("id_a", "id_b")
        # materialize before CC: the iterative rounds consume the pair
        # list repeatedly, and without the barrier each round replays
        # the verify join (the neardup_curation_pipeline round-2 bench
        # regression was exactly this recompute)
        .localCheckpoint(eager=True)
    )
    cc = connected_components(pairs, "id_a", "id_b")
    dropped = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    kept = exact.join(dropped, "doc_id", "left_anti")
    bench = docs.filter((F.col("doc_id") % 101 == 0) & (words >= 8))
    bench_grams = bench.select(
        F.explode(shingles("text", n=8)).alias("g")
    ).distinct()
    contaminated = (
        kept.select("doc_id", F.explode(shingles(F.col("__t"), n=8)).alias("g"))
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = kept.join(contaminated, "doc_id", "left_anti")
    w_quota = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    quota = (
        clean.withColumn("__qrn", F.row_number().over(w_quota))
        .filter(F.col("__qrn") <= 200)
        .drop("__qrn")
    )
    toks = quota.select(
        "doc_id", "lang", F.size(F.split(F.col("__t"), r"\s+")).alias("n_tok")
    )
    # exclusive per-lang prefix sum via the partitioned bucket-offset
    # form: the plain Window.partitionBy("lang") prefix sum is one
    # fact-sized sort task per language at scale (r6 plan-audit class);
    # doc_id is unique, so the bucketed form is bit-identical.  The
    # bucket count resolves adaptively (r8, generalizing this stage's
    # own r7 precedent of pinning 32): this grain is post-dedup AND
    # post-quota, orders smaller than the fact, so the estimate picks
    # the single flat level here while a 100× input flips to the
    # 1024-bucket hybrid on its own.
    packed = bucketed_cumsum(
        toks, "doc_id", ("n_tok",), inclusive=False,
        partition_by=("lang",),
    ).withColumn(
        "seq_id", F.floor(F.col("cum_n_tok") / 512.0).cast("bigint")
    )
    return packed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("seq_id").cast("bigint").alias("n_seqs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


@_register(
    "partitioned_lake_roundtrip",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ('en', 'de')
    GROUP BY lang
    """,
)
def partitioned_lake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lake layout under a hard CORRECTNESS row (it
    was tests-only): documents write to a lang-partitioned parquet
    directory (sources.sinks.write_parquet_partitioned), the reader
    filters two languages — which Spark satisfies by PRUNING to two
    partition directories, never scanning the rest (PartitionFilters
    in the plan; pinned in tests/test_sinks.py) — and the rollup must
    equal the direct query on the source table, proving the layout
    round-trip is lossless.  The write lands in a scratch dir keyed by
    sf so concurrent scales don't collide; at 100 TB this shape is the
    difference between reading one directory and reading the lake."""
    import os

    from cid_etl_spark.sources.sinks import write_parquet_partitioned

    d = load_table(spark, sf_dir, "documents")
    path = os.path.join(scratch_dir(spark, "lake", sf_dir), "documents_by_lang")
    write_parquet_partitioned(d, path, partition_by="lang")
    lake = spark.read.parquet(path)
    return (
        lake.filter(F.col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


