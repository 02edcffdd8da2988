"""TPC-H decision-support classics on the fixture star schema plus
span-dedup/packing/UDTF/sketch registrations (S, O)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cid_etl_spark.functions.text import tokens
from cid_etl_spark.operators.aggregates import decimal_sum, money
from cid_etl_spark.sources.parquet import load_table


from cid_etl_spark.queries._registry import _register

# ---------------------------------------------------------------------------
# S. TPC-H classics on the fixture star schema (Q3/Q5/Q10/Q18 shapes) —
#    the canonical decision-support plans a replacement engine must run;
#    Q5 goes through the pure SQL surface (spark.sql over temp views)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS revenue,
           o.o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority, o_orderpriority standing in for the
    fixture-absent o_shippriority): segment-filtered customers broadcast
    into orders, one shuffle join to lineitem, partial-agg rollup, then
    global top-10 as TakeOrderedAndProject — a per-partition heap +
    driver merge, never a full sort.  The unique l_orderkey tiebreak
    makes the LIMIT edge deterministic across engines."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    agg = (
        li.join(o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
                li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money(F.sum(price * (1 - disc))).alias("revenue"))
    )
    return agg.select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority").orderBy(
        F.desc("revenue"), "l_orderkey"
    ).limit(10)


@_register(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n.n_name,
           CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
                   AND s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY n.n_name
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) through the engine's SQL
    surface: fixture tables registered as temp views, the query text
    handed to ``spark.sql`` — same Catalyst pipeline, same plans as the
    DataFrame API, proving the SQL-first user path works end-to-end.
    The customer-nation = supplier-nation equality is the interesting
    edge: it correlates the two fact-side dims, and Catalyst still
    broadcasts every dim so the only shuffle is lineitem⋈orders."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n.n_name,
               CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
                       AND s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY n.n_name
        """
    )


@_register(
    "tpch_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): both fact filters (the
    half-year order window, the 'R' return flag) push to the parquet
    scans; customers broadcast into the order-keyed shuffle join; the
    top-20 edge is deterministic via the unique custkey tiebreak."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money(F.sum(price * (1 - disc))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@_register(
    "tpch_q18_large_orders",
    """
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(round(SUM(CAST(l.l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): the IN-subquery becomes a
    LEFT SEMI join against the big-order keys, themselves one
    partial-agg pass over lineitem.  Every wide edge is keyed on the
    order key, so the semi probe, the detail re-join, and the final
    rollup all reuse one hash partitioning at scale."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 150)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    kept = o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
    return (
        li.join(kept, li.l_orderkey == kept.o_orderkey)
        .join(F.broadcast(c), kept.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(money(F.sum(F.col("l_quantity").cast("decimal(18,2)"))).alias("total_qty"))
    )


@_register(
    "higher_order_funcs_suite",
    """
    SELECT vec_id,
           round(list_aggregate(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 6)
             AS norm_sq,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
           round(list_aggregate(list_transform(
                     list_zip(embedding, list_reverse(embedding)),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'), 6)
             AS rev_dot,
           CAST(len(list_filter(embedding, x -> x > 0.2)) > 0 AS BOOLEAN)
             AS has_large,
           CAST(len(list_filter(embedding, x -> abs(x) > 1.0)) = 0 AS BOOLEAN)
             AS all_bounded
    FROM embeddings
    """,
)
def higher_order_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as first-class JVM-side ops
    (evaluated interpreted — they are ``CodegenFallback`` in Spark 4.1):
    transform/aggregate (fold), filter, zip_with, exists, forall — the
    lambda family that keeps array math OUT of Python UDFs.  Both
    engines fold left-to-right over the same array order, and float32
    widens to double exactly, so the sums agree bit-for-bit before the
    final display rounding."""
    d = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    dbl = lambda x: x.cast("double")  # noqa: E731
    norm_sq = F.aggregate(
        F.transform(emb, lambda x: dbl(x) * dbl(x)), F.lit(0.0), lambda a, x: a + x
    )
    rev_dot = F.aggregate(
        F.zip_with(emb, F.reverse(emb), lambda a, b: dbl(a) * dbl(b)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return d.select(
        "vec_id",
        F.round(norm_sq, 6).alias("norm_sq"),
        F.size(F.filter(emb, lambda x: x > 0)).cast("int").alias("n_pos"),
        F.round(rev_dot, 6).alias("rev_dot"),
        F.exists(emb, lambda x: x > 0.2).alias("has_large"),
        F.forall(emb, lambda x: F.abs(x) <= 1.0).alias("all_bounded"),
    )


@_register(
    "regex_extraction_suite",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INT) AS n_words,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+'))
                AS INT) AS n_emails,
           lower(coalesce(regexp_extract(text, '([A-Za-z]{4,})', 1), ''))
             AS first_long_word
    FROM documents
    """,
)
def regex_extraction_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction family (regexp_extract_all / regexp_extract)
    over documents: token-class censuses and a first-match pull, all
    JVM-side codegen — the pattern layer under PII scrubbing and
    boilerplate detection.  Patterns stay in the RE2-compatible subset
    (no backrefs, no lookaround) so Java and RE2 engines agree."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z]+"), 0)).cast("int").alias(
            "n_words"
        ),
        F.size(F.regexp_extract_all(t, F.lit(r"[0-9]+"), 0)).cast("int").alias(
            "n_numbers"
        ),
        F.size(
            F.regexp_extract_all(t, F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"), 0)
        ).cast("int").alias("n_emails"),
        F.lower(F.coalesce(F.regexp_extract(t, r"([A-Za-z]{4,})", 1), F.lit(""))).alias(
            "first_long_word"
        ),
    )


@_register(
    "vocab_encode_documents",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents WHERE length(trim(text)) > 0
    ), vocab AS (
        SELECT token,
               row_number() OVER (ORDER BY count(*) DESC, token) AS token_id
        FROM tok GROUP BY token
        QUALIFY token_id <= 100
    )
    SELECT t.doc_id, t.token, CAST(coalesce(v.token_id, -1) AS BIGINT) AS token_id
    FROM tok t LEFT JOIN vocab v USING (token)
    """,
)
def vocab_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary learning + broadcast encode — the tokenizer-prep
    step of a training pipeline: build the top-K vocabulary (count
    desc, token as the deterministic tie-break), broadcast it, and
    re-encode every token as its id (-1 = OOV).  One shuffle to count
    tokens; the vocab rank is a window over the ALREADY-AGGREGATED
    unique-token table (at 100 TB, bound that input with a min-count
    prefilter before ranking); the encode pass is a map-side broadcast
    join, so the corpus itself never reshuffles."""
    from cid_etl_spark.plans.fragments import token_stream

    tok = token_stream(spark, sf_dir).select(
        "doc_id", F.col("tok").alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("__cnt"))
    w = Window.orderBy(F.desc("__cnt"), "token")
    vocab = (
        counts.select("token", F.row_number().over(w).alias("token_id"))
        .filter(F.col("token_id") <= 100)
    )
    return tok.join(F.broadcast(vocab), "token", "left").select(
        "doc_id",
        "token",
        F.coalesce(F.col("token_id").cast("bigint"), F.lit(-1)).alias("token_id"),
    )


@_register(
    "window_value_functions",
    """
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice)  OVER w AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions (first/last/nth) with the frame spelled
    out: the default RANGE-to-current-row frame makes ``last_value``
    return the CURRENT row — the classic silent-wrong-answer — so the
    engine always pins ROWS UNBOUNDED BOTH WAYS for whole-partition
    values.  One shuffle on the customer key serves all three."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@_register(
    "referential_integrity_audit",
    """
    SELECT 'lineitem_without_order' AS check_name, CAST(count(*) AS BIGINT) AS n_bad
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'order_without_customer', CAST(count(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer_without_any_order', CAST(count(*) AS BIGINT)
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key audit as LEFT ANTI joins — the data-quality gate a
    lake pipeline runs before publishing a snapshot.  Each check is an
    anti probe against the parent's key projection (scan reads one
    column); the three single-row counts union into one tiny report.
    At 100 TB each anti join is one wide edge keyed on the FK, and a
    clean audit short-circuits cheaply because anti output is empty."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")

    def check(name: str, bad: DataFrame) -> DataFrame:
        return bad.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bad")
        ).select(F.lit(name).alias("check_name"), "n_bad")

    li_orphans = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
    o_orphans = o.join(c, o.o_custkey == c.c_custkey, "left_anti")
    c_idle = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        check("lineitem_without_order", li_orphans)
        .unionByName(check("order_without_customer", o_orphans))
        .unionByName(check("customer_without_any_order", c_idle))
    )


@_register(
    "ansi_safe_arithmetic_suite",
    """
    SELECT p_partkey,
           round(p_retailprice / nullif(p_size, 0), 4) AS price_per_size,
           TRY_CAST(p_brand AS DOUBLE) AS brand_num,
           TRY_CAST(substr(p_name, 1, 2) AS INT) AS name_prefix_num
    FROM part
    """,
)
def ansi_safe_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode safety valves: Spark 4 runs ANSI SQL, so division by
    zero and bad casts are runtime ERRORS unless routed through the
    try_ family — try_divide and try_cast return NULL instead of
    killing a 100 TB job 6 hours in.  The engine's convention: try_*
    at ingest boundaries (untrusted values), hard casts downstream
    (schema already proven)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(
            F.try_divide(F.col("p_retailprice"), F.nullif(F.col("p_size"), F.lit(0))),
            4,
        ).alias("price_per_size"),
        F.try_to_number(F.col("p_brand"), F.lit("999999.99")).cast("double").alias(
            "brand_num"
        ),
        F.substring("p_name", 1, 2).try_cast("int").alias("name_prefix_num"),
    )


@_register(
    "percentile_disc_stats",
    """
    SELECT l_returnflag,
           round(quantile_disc(l_extendedprice, 0.5), 2) AS p50_disc,
           round(quantile_disc(l_extendedprice, 0.9), 2) AS p90_disc,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_disc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (order-statistic) percentiles per group: unlike the
    interpolating percentile_stats_lineitem, percentile_disc returns an
    ACTUAL data value — the form auditors want ('a real order's price')
    and the one that stays exact under decimal types.  Same partial-agg
    shuffle shape as the continuous variant."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
            ),
            2,
        ).alias("p50_disc"),
        F.round(
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"
            ),
            2,
        ).alias("p90_disc"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


@_register(
    "incremental_dedup_ingest",
    """
    WITH catalog AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
    ), incoming AS (
        SELECT doc_id, lang, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
    )
    SELECT i.doc_id, i.lang
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM catalog c WHERE c.h = i.h)
    """,
)
def incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: a new batch is admitted only where
    its content hash misses the EXISTING corpus catalog — the daily
    operation of a training-data lake, where re-deduplicating 100 TB
    per batch is off the table.  The catalog side is a one-column hash
    projection (at scale: the stored fingerprint table, not a rescan);
    the probe is one LEFT ANTI join keyed on the hash, and the batch
    (the small side) is what shuffles.  Compose with
    minhash_dedup_pairs on the survivors for near-dup admission."""
    d = load_table(spark, sf_dir, "documents")
    catalog = (
        d.filter(F.col("doc_id") % 2 == 0).select(F.md5("text").alias("h")).distinct()
    )
    incoming = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.md5("text").alias("h")
    )
    return incoming.join(catalog, "h", "left_anti").select("doc_id", "lang")


@_register(
    "price_histogram_orders",
    """
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 21
                ELSE floor(o_totalprice / 30000) + 1 END AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS bucket_value
    FROM orders
    GROUP BY 1
    """,
)
def price_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via ``width_bucket`` (20 buckets over
    [0, 600k), underflow 0 / overflow 21 per SQL semantics): the
    profiling primitive behind range-partition boundary planning and
    skew reports.  Entirely map-side until the 20-row rollup — the
    histogram of a 100 TB column costs one scan and one tiny shuffle.
    The DuckDB twin spells out the same bucket arithmetic (it lacks
    width_bucket); values are exact at the shared power-of-ten
    boundaries."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.width_bucket(
            F.col("o_totalprice"), F.lit(0.0), F.lit(600000.0), F.lit(20)
        ).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        money(decimal_sum("o_totalprice")).alias("bucket_value"),
    )


@_register(
    "cohort_retention_events",
    """
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS w
        FROM events
    ), firsts AS (
        SELECT user_id, min(w) AS w0 FROM ud GROUP BY user_id
    )
    SELECT strftime(f.w0, '%Y-%m-%d') AS cohort_week,
           CAST((u.w - f.w0) / 7 AS BIGINT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM ud u JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users keyed by first-active week,
    counted at each week offset they return.  The distinct lands rows
    by (user_id, month); the per-user min and the join back both
    cluster on user_id, so the whole cohort assignment runs inside two
    exchanges and the final (cohort, offset) rollup is group-count
    sized.  At 100 TB the ud table (distinct user-months) is the only
    large intermediate, and it's orders smaller than the event fact."""
    ev = load_table(spark, sf_dir, "events")
    # partition by user_id ALONE before the distinct: hash(user) already
    # clusters (user, week) pairs, so the distinct, the per-user min,
    # and the join back all reuse this single exchange instead of
    # re-shuffling the user-week table three times
    ud = (
        ev.select("user_id", F.trunc(F.to_date("ts"), "week").alias("w"))
        .repartition("user_id")
        .distinct()
    )
    firsts = ud.groupBy("user_id").agg(F.min("w").alias("w0"))
    return (
        ud.join(firsts, "user_id")
        .groupBy(
            F.date_format("w0", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("w"), F.col("w0")) / 7).cast("bigint").alias(
                "week_offset"
            ),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )


@_register(
    "argmax_suite_customers",
    """
    SELECT n.n_name,
           arg_max(c.c_name,
                   CAST(round(c.c_acctbal * 100) AS BIGINT) * 1000000
                     + c.c_custkey) AS richest,
           arg_min(c.c_name,
                   CAST(round(c.c_acctbal * 100) AS BIGINT) * 1000000
                     + c.c_custkey) AS poorest,
           round(max(c.c_acctbal), 2) AS max_bal,
           round(min(c.c_acctbal), 2) AS min_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def argmax_suite_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax/argmin (max_by / min_by): fetch the extreme
    ROW's attribute in the same single aggregation pass — no window, no
    self-join, no per-group sort, so it partial-aggregates map-side
    where a row_number() top-1 must shuffle every row.  The ordering
    value folds cents and the unique custkey into one bigint so ties
    cannot make the survivor engine-dependent."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    score = (
        F.round(F.col("c_acctbal") * 100).cast("bigint") * 1000000 + F.col("c_custkey")
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.max_by("c_name", score).alias("richest"),
            F.min_by("c_name", score).alias("poorest"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        )
    )


@_register(
    "headdup_keep_longest",
    r"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               md5(array_to_string(
                   string_split_regex(lower(trim(text)), '\s+')[1:10], ' '))
                 AS head_key
        FROM documents WHERE length(trim(text)) > 0
    ), ranked AS (
        SELECT doc_id, lang, n_chars, head_key,
               row_number() OVER (PARTITION BY head_key
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               CAST(count(*) OVER (PARTITION BY head_key) AS BIGINT)
                 AS family_size
        FROM keyed
    )
    SELECT doc_id, lang, n_chars, family_size
    FROM ranked WHERE rn = 1
    """,
)
def headdup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup (vs the keep-first of exact_dedup): documents
    sharing the same first-10-token fingerprint are treated as a
    repost/expansion family, and the LONGEST member survives — the
    canonicalization rule curation pipelines use when one variant
    subsumes the others.  The family key is a fixed-width md5 computed
    map-side, so the single shuffle carries 16-byte keys + metadata,
    never the text; rank and family size share one window pass."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    head_key = F.md5(F.array_join(F.slice(tokens("text"), 1, 10), " "))
    keyed = d.select("doc_id", "lang", "n_chars", head_key.alias("head_key"))
    w = Window.partitionBy("head_key").orderBy(F.desc("n_chars"), "doc_id")
    wc = Window.partitionBy("head_key")
    return (
        keyed.select(
            "doc_id",
            "lang",
            "n_chars",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).cast("bigint").alias("family_size"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@_register(
    "approx_topk_priorities",
    """
    SELECT o_orderpriority AS item, CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY o_orderpriority
    """,
)
def approx_topk_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k — the mergeable frequent-items sketch: partials
    combine map-side in bounded space, so the shuffle carries sketches
    and a 100 TB heavy-hitter query never materializes per-key counts.
    Oracled EXACTLY because the sketch tracks up to 10k items — above
    the column's cardinality, where its counts are exact by
    construction (the test would catch a sketch that stops being
    lossless under that bound).  High-cardinality use pairs it with
    heavy_hitters_parts as the exact contrast."""
    o = load_table(spark, sf_dir, "orders")
    tk = o.select(
        F.explode(F.expr("approx_top_k(o_orderpriority, 10)")).alias("e")
    )
    return tk.select(
        F.col("e.item").alias("item"), F.col("e.count").cast("bigint").alias("cnt")
    )


@_register(
    "event_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix (who does what next):
    lead() over each user's event sequence, then a type-pair rollup —
    the input to Markov attribution and funnel-drop diagnosis.  One
    shuffle on user_id serves the ordering window, and the 25-cell
    rollup partial-aggregates map-side; ties in ts break on the unique
    event_id so the sequence is engine-independent.  The sequence pass
    comes from the canonical ``user_event_seq`` fragment (r8): solo,
    Catalyst prunes the fragment's unused lag column; in a batch the
    user-shuffle window runs once for every sequence consumer."""
    from cid_etl_spark.plans.fragments import user_event_seq

    seq = user_event_seq(spark, sf_dir).select(
        "event_type", "next_type"
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


@_register(
    "ewma_user_values",
    """
    WITH RECURSIVE seq AS (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events
    ),
    rec AS (
        SELECT user_id, event_id, ts, value, rn, value AS e FROM seq
        WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.event_id, s.ts, s.value, s.rn,
               0.7 * r.e + 0.3 * s.value
        FROM rec r JOIN seq s
          ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts, value, round(e, 6) AS ewma FROM rec
    """,
)
def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user EWMA over event values
    (operators.timeseries.ewma_by_key): the recurrence is inherently
    sequential so no SQL WINDOW expresses it — one shuffle groups each
    user's series, an Arrow grouped-map runs the vectorized recurrence
    in-worker.  A RECURSIVE CTE can replay it though (one iteration
    per series step, all series advancing in lockstep), so the DuckDB
    twin walks ``e_t = (1-a)·e_{t-1} + a·x_t`` in the same operand
    order and the round-1 rows-only entry becomes a hard hash-checked
    row.  Rounded to 6 digits on both sides; ties on ts broken by
    event_id for an engine-independent order.

    r13: the scan stays unspread — the bucketed grouped-map's own hash
    exchange distributes the work, so the round-robin pre-shuffle only
    added a second full pass over the fact (guide §2.4; at 100 TB the
    scan has enough splits that _spread is a no-op either way)."""
    from cid_etl_spark.operators.timeseries import ewma_by_key

    ev = load_table(spark, sf_dir, "events", spread=False).select(
        "user_id", "event_id", "ts", "value"
    )
    return ewma_by_key(ev, ["user_id"], "ts", "value", alpha=0.3, tiebreak="event_id")


@_register(
    "sql_udf_cid_functions",
    """
    WITH src AS (
        SELECT p_partkey,
               upper(substr(p_name, 1, 1))
                 || CAST(p_partkey % 100 AS VARCHAR)
                 || CASE WHEN p_partkey % 4 = 0 THEN '.' || CAST(p_partkey % 10 AS VARCHAR)
                         ELSE '' END AS raw
        FROM part
    )
    SELECT p_partkey,
           upper(trim(raw)) AS norm,
           CASE WHEN length(upper(trim(raw))) >= 4
                     AND trim(substr(upper(trim(raw)), 4, 1)) <> ''
                THEN substr(upper(trim(raw)), 1, 3) || '.'
                     || substr(upper(trim(raw)), 4)
                ELSE substr(upper(trim(raw)), 1, 3) END AS dotted,
           string_split(upper(trim(raw)), '.')[1] AS root
    FROM src
    """,
)
def sql_udf_cid_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scalar functions (normalize_code
    etl_cid10.py:11-14, format_subcat :249-258, extract_root_category
    :17-21) declared as SQL UDFs — ``CREATE FUNCTION ... RETURN
    <expr>`` — and invoked from a query.  The function BODY is a pure
    SQL expression, so Catalyst inlines it into whole-stage codegen:
    user-defined does NOT mean Python-evaluated, and the plan carries
    no EvalPython stage (pinned in tests/test_plans.py).  This is the
    engine's recommended extension point before reaching for pandas
    UDFs."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cid_norm(s STRING) "
        "RETURNS STRING RETURN upper(trim(s))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cid_format_subcat(s STRING) "
        "RETURNS STRING RETURN "
        "CASE WHEN length(cid_norm(s)) >= 4 "
        "          AND trim(substr(cid_norm(s), 4, 1)) != '' "
        "     THEN concat(substr(cid_norm(s), 1, 3), '.', substr(cid_norm(s), 4)) "
        "     ELSE substr(cid_norm(s), 1, 3) END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cid_root(s STRING) "
        "RETURNS STRING RETURN substring_index(cid_norm(s), '.', 1)"
    )
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        WITH src AS (
            SELECT p_partkey,
                   concat(upper(substr(p_name, 1, 1)),
                          CAST(p_partkey % 100 AS STRING),
                          CASE WHEN p_partkey % 4 = 0
                               THEN concat('.', CAST(p_partkey % 10 AS STRING))
                               ELSE '' END) AS raw
            FROM part
        )
        SELECT p_partkey,
               cid_norm(raw) AS norm,
               cid_format_subcat(raw) AS dotted,
               cid_root(raw) AS root
        FROM src
        """
    )


@_register(
    "aggregate_completeness_suite",
    """
    SELECT c_nationkey,
           bool_and(c_acctbal > 0) AS all_pos,
           bool_or(c_acctbal < 0) AS any_neg,
           CAST(bit_and(c_custkey) AS BIGINT) AS key_bit_and,
           CAST(bit_or(c_custkey) AS BIGINT) AS key_bit_or,
           CAST(bit_xor(c_custkey) AS BIGINT) AS key_bit_xor,
           round(covar_samp(c_acctbal, c_custkey), 4) AS cov_s,
           round(covar_pop(c_acctbal, c_custkey), 4) AS cov_p
    FROM customer
    GROUP BY c_nationkey
    """,
)
def aggregate_completeness_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The long tail of the aggregate surface: boolean quantifiers
    (every/any), bitwise folds (the xor fold doubles as a cheap
    set-equality checksum in reconciliation jobs), and sample/population
    covariance.  All are algebraic — partials merge map-side — so the
    whole suite rides one group-key shuffle like any sum."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.every(F.col("c_acctbal") > 0).alias("all_pos"),
        F.some(F.col("c_acctbal") < 0).alias("any_neg"),
        F.bit_and("c_custkey").cast("bigint").alias("key_bit_and"),
        F.bit_or("c_custkey").cast("bigint").alias("key_bit_or"),
        F.bit_xor("c_custkey").cast("bigint").alias("key_bit_xor"),
        F.round(F.covar_samp("c_acctbal", "c_custkey"), 4).alias("cov_s"),
        F.round(F.covar_pop("c_acctbal", "c_custkey"), 4).alias("cov_p"),
    )


@_register(
    "grouping_id_disambiguation",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_prio,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_id_disambiguation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping() flags on GROUPING SETS output: without them a NULL
    group column is ambiguous — 'the subtotal row' vs 'the group whose
    key IS NULL' — which silently corrupts downstream pivots the moment
    a nullable key appears.  The flags are computed inside the same
    Expand + aggregate pass; no extra shuffle over plain grouping
    sets."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


@_register(
    "unigram_logprob_score",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents WHERE length(trim(text)) > 0
    ), freq AS (
        SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ), tot AS (
        SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM freq
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           round(-avg(ln(f.cnt / tot.n)), 4) AS unigram_xent
    FROM tok t JOIN freq f USING (token), tot
    GROUP BY t.doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-perplexity quality signal: each document scored by its mean
    negative log-probability under the corpus's own unigram
    distribution — the cheap statistical stand-in for an LM perplexity
    filter (gibberish and boilerplate-of-rare-tokens score high, typical
    prose low).  The frequency table is vocab-sized and broadcasts back
    over the token stream, the 1-row total rides the same broadcast, so
    scoring re-shuffles nothing but the final per-doc rollup."""
    from cid_etl_spark.plans.fragments import token_stream

    tok = token_stream(spark, sf_dir).select(
        "doc_id", F.col("tok").alias("token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = freq.agg(F.sum("cnt").cast("double").alias("n"))
    return (
        tok.join(F.broadcast(freq), "token")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.round(-F.avg(F.log(F.col("cnt") / F.col("n"))), 4).alias(
                "unigram_xent"
            ),
        )
    )


@_register(
    "null_safe_join_counts",
    """
    WITH a AS (
        SELECT doc_id, nullif(lang, 'en') AS k FROM documents
    ), b AS (
        SELECT source, nullif(lang, 'en') AS k
        FROM (SELECT DISTINCT source, lang FROM documents)
    )
    SELECT a.k, CAST(count(*) AS BIGINT) AS n
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    """,
)
def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): ordinary
    equi-join predicates silently DROP null-keyed rows (NULL = NULL is
    NULL), the classic fact/dim bug when a key is optional.  <=> is
    still a hash-joinable equality, so the plan stays a hash join —
    the nulls just hash to one bucket (salt them if a null-heavy key
    skews)."""
    d = load_table(spark, sf_dir, "documents")
    a = d.select("doc_id", F.nullif(F.col("lang"), F.lit("en")).alias("k"))
    b = (
        d.select("source", "lang").distinct()
        .select("source", F.nullif(F.col("lang"), F.lit("en")).alias("k"))
    )
    return (
        a.join(b, a.k.eqNullSafe(b.k))
        .groupBy(a.k.alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@_register(
    "multiset_ops_orders",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    ) GROUP BY o_orderpriority
    """,
)
def multiset_ops_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations: EXCEPT ALL subtracts
    MULTIPLICITIES (a priority appearing 50x open and 30x finished
    survives 20x) where the DISTINCT variants covered elsewhere
    (intersect_nations / except_nations) collapse to membership — the
    difference matters whenever counts carry meaning, e.g. diffing two
    snapshots row-for-row.  Spark plans it as one aggregate computing
    per-row count deltas, not a join."""
    o = load_table(spark, sf_dir, "orders")
    open_p = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    done_p = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return (
        open_p.exceptAll(done_p)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@_register(
    "inverted_index_lookup",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents WHERE length(trim(text)) > 0
    ), postings AS (
        SELECT term,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
               array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS posting
        FROM tok GROUP BY term
    )
    SELECT term, df, posting
    FROM postings
    WHERE term IN ('data', 'query', 'spark', 'table', 'index')
    """,
)
def inverted_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build + term lookup — the retrieval primitive
    under search and n-gram decontamination: one shuffle on the term
    key builds (term -> sorted posting list, document frequency), and
    lookups are then partition-pruned point reads.  The posting list
    renders as a sorted joined string so the oracle never compares raw
    arrays.  At 100 TB, postings for stop-word-frequency terms are the
    skew hazard: cap or delta-encode them at write (df alone often
    suffices — see tfidf_top_terms), exactly like the hot-shingle
    handling in the Jaccard index."""
    from cid_etl_spark.plans.fragments import token_stream

    tok = token_stream(spark, sf_dir).select(
        "doc_id", F.col("tok").alias("term")
    )
    postings = tok.groupBy("term").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df"),
        F.array_join(F.sort_array(F.collect_set("doc_id")), ",").alias("posting"),
    )
    return postings.filter(
        F.col("term").isin("data", "query", "spark", "table", "index")
    )


@_register(
    "bm25_search_documents",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents WHERE length(trim(text)) > 0
    ), dl AS (
        SELECT doc_id, CAST(count(*) AS DOUBLE) AS len FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               avg(len) AS avgdl FROM dl
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        FROM tok WHERE term IN ('data', 'query', 'index')
        GROUP BY doc_id, term
    ), df AS (
        SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    )
    SELECT t.doc_id,
           round(sum(
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
               * t.tf * 2.2
               / (t.tf + 1.2 * (0.25 + 0.75 * l.len / s.avgdl))
           ), 4) AS bm25
    FROM tf t
    JOIN df d USING (term)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
    GROUP BY t.doc_id
    ORDER BY bm25 DESC, t.doc_id
    LIMIT 20
    """,
)
def bm25_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed term set —
    the ranking layer over inverted_index_lookup.  Corpus statistics
    (N, avgdl) fold to ONE row and the per-term dfs to a query-sized
    table; both broadcast back over the tf table, so scoring re-joins
    nothing fact-sized and the top-20 edge is a heap.  The per-doc
    term rollup comes from the canonical shared fragment
    (plans/fragments.py) so a run_batch with other lexical queries
    shares one explode+shuffle; standalone, Catalyst still pushes the
    query-term filter through the rollup's grouping key to the scan —
    at 100 TB that filter is the difference between shuffling three
    terms' postings and the whole token stream.  Round 9: the whole
    scoring pipeline is the canonical ``bm25_scores`` child fragment,
    shared with the hybrid RRF lexical channel in batches."""
    from cid_etl_spark.plans.fragments import bm25_scores

    return (
        bm25_scores(spark, sf_dir)
        .select("doc_id", F.col("score").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@_register(
    "hybrid_rrf_search",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents WHERE length(trim(text)) > 0
    ), dl AS (
        SELECT doc_id, CAST(count(*) AS DOUBLE) AS len FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len) AS avgdl FROM dl
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        FROM tok WHERE term IN ('data', 'query', 'index')
        GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), bm AS (
        SELECT t.doc_id,
               round(sum(
                   ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
                   * t.tf * 2.2
                   / (t.tf + 1.2 * (0.25 + 0.75 * l.len / s.avgdl))
               ), 4) AS score
        FROM tf t JOIN dfreq d USING (term) JOIN dl l USING (doc_id)
        CROSS JOIN stats s GROUP BY t.doc_id
    ), brank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS r
        FROM bm QUALIFY r <= 50
    ), qv AS (
        SELECT embedding AS q FROM embeddings WHERE vec_id = 0
    ), cos AS (
        SELECT e.vec_id AS doc_id,
               round(list_aggregate(list_transform(
                   list_zip(e.embedding, qv.q),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'), 6)
                 AS sim
        FROM embeddings e, qv
    ), vrank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY sim DESC, doc_id) AS r
        FROM cos QUALIFY r <= 50
    )
    SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
           round(coalesce(1.0 / (60 + b.r), 0)
                 + coalesce(1.0 / (60 + v.r), 0), 6) AS rrf
    FROM brank b FULL OUTER JOIN vrank v USING (doc_id)
    ORDER BY rrf DESC, doc_id
    LIMIT 20
    """,
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion: the lexical
    channel (BM25 top-50) and the dense channel (cosine vs a fixed
    query vector, top-50) are fused by summed 1/(60+rank) — the
    rank-space combination that needs no score calibration between
    channels.  Both channels rank on ROUNDED scores with a doc-id
    tiebreak so rank edges are engine-independent.  Each channel cuts
    to its top-50 with ``orderBy().limit(50)`` — TakeOrderedAndProject,
    a per-partition heap + driver merge — and only THEN assigns ranks
    with a window over those 50 rows (bounded by the literal, not by
    corpus size).  The r5 form ranked the FULL scored set through one
    ``row_number`` partition before filtering r ≤ 50 — same output,
    but a global single-partition sort of every document/embedding at
    100× (VERDICT r5 flag #5); the total order (score desc, doc_id)
    makes heap-cut-then-rank bit-identical to rank-then-filter."""
    from cid_etl_spark.plans.fragments import bm25_scores

    e = load_table(spark, sf_dir, "embeddings")
    # lexical channel — the canonical bm25_scores child fragment,
    # shared with bm25_search_documents in batches (round 9)
    bm = bm25_scores(spark, sf_dir)
    wb = Window.orderBy(F.desc("score"), "doc_id")
    brank = (
        bm.orderBy(F.desc("score"), "doc_id")
        .limit(50)
        .select("doc_id", F.row_number().over(wb).alias("r"))
    )
    # dense channel — dot against the vec_id=0 query (vectors are unit-norm)
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    dbl = lambda x: x.cast("double")  # noqa: E731
    sim = F.round(
        F.aggregate(
            F.zip_with("embedding", "q", lambda a, b: dbl(a) * dbl(b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    cos = e.join(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"), sim.alias("sim")
    )
    wv = Window.orderBy(F.desc("sim"), "doc_id")
    vrank = (
        cos.orderBy(F.desc("sim"), "doc_id")
        .limit(50)
        .select("doc_id", F.row_number().over(wv).alias("r"))
    )
    fused = brank.alias("b").join(
        vrank.alias("v"), F.col("b.doc_id") == F.col("v.doc_id"), "full_outer"
    )
    rrf = F.round(
        F.coalesce(1.0 / (60 + F.col("b.r")), F.lit(0.0))
        + F.coalesce(1.0 / (60 + F.col("v.r")), F.lit(0.0)),
        6,
    )
    return (
        fused.select(
            F.coalesce(F.col("b.doc_id"), F.col("v.doc_id")).alias("doc_id"),
            rrf.alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
    )


@_register(
    "bpe_pair_counts",
    r"""
    WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE length(trim(text)) > 0
    ), pairs AS (
        SELECT p[1] || ' ' || p[2] AS pair
        FROM t, unnest(list_zip(toks[1:-2], toks[2:-1])) u(p)
        WHERE len(toks) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 50
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training iteration at corpus scale: count every adjacent
    token pair and rank the merge candidates — the inner loop of
    tokenizer training, where each round merges the top pair and
    recounts.  Pair generation is a narrow zip of the token array with
    its own tail (no self-join of positions); one shuffle aggregates
    pair counts with map-side partials; the candidate edge is a heap."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(tokens("text").alias("toks")).filter(F.size("toks") >= 2)
    pairs = t.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


@_register(
    "snapshot_diff_orders",
    """
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 97 <> 0
    ), v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END
                 AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 101 <> 0
    )
    SELECT 'added' AS change, CAST(count(*) AS BIGINT) AS n
    FROM v2 WHERE NOT EXISTS (SELECT 1 FROM v1 WHERE v1.o_orderkey = v2.o_orderkey)
    UNION ALL
    SELECT 'removed', CAST(count(*) AS BIGINT)
    FROM v1 WHERE NOT EXISTS (SELECT 1 FROM v2 WHERE v2.o_orderkey = v1.o_orderkey)
    UNION ALL
    SELECT 'changed', CAST(count(*) AS BIGINT)
    FROM v1 JOIN v2 USING (o_orderkey)
    WHERE v1.o_orderstatus <> v2.o_orderstatus
       OR v1.o_totalprice <> v2.o_totalprice
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (the CDC-validation op): two versions of
    a table diffed into added / removed / changed counts — anti joins
    for membership drift, an inner join with a column-inequality
    predicate for mutations.  All three probes key on o_orderkey, so
    at scale one co-partitioning serves every branch; the synthetic v2
    here mutates ~1% of keys and drops/adds ~1% to keep all branches
    non-empty at every fixture scale."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = o.filter(F.col("o_orderkey") % 97 != 0)
    v2 = o.filter(F.col("o_orderkey") % 101 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 89 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )

    def count_as(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
            F.lit(name).alias("change"), "n"
        )

    added = v2.join(v1.select("o_orderkey"), "o_orderkey", "left_anti")
    removed = v1.join(v2.select("o_orderkey"), "o_orderkey", "left_anti")
    changed = v1.alias("a").join(v2.alias("b"), "o_orderkey").filter(
        (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
        | (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
    )
    return (
        count_as("added", added)
        .unionByName(count_as("removed", removed))
        .unionByName(count_as("changed", changed))
    )


@_register(
    "audience_overlap_events",
    """
    WITH m AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY event_type
    ), inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM m a JOIN m b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, i.n_both,
           round(CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def audience_overlap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity between the user
    sets of every event-type pair, from ONE distinct membership table —
    the self-join keys on user_id so pair blowup is bounded by each
    user's distinct types (≤5), never users².  Set sizes ride back in
    as a group-count broadcast; the same plan computes segment overlap
    on billions of users, and swapping the exact counts for HLL
    sketches (hll_daily_users_events) makes it streamable."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.select("event_type", "user_id").repartition("user_id").distinct()
    sizes = m.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = m.alias("a"), m.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


@_register(
    "contiguous_ids_documents",
    """
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id
    FROM documents
    """,
)
def contiguous_ids_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0..N-1 id assignment in key order
    (operators.aggregates.assign_contiguous_ids) — the scalable
    zipWithIndex: range-bucket the key, per-bucket counts become
    cumulative offsets over a bucket-count-sized window, offsets
    broadcast back, id = offset + within-bucket rank.  The oracle is
    the single-partition global row_number the distributed form must
    equal exactly; the distributed form never funnels the fact through
    one partition."""
    from cid_etl_spark.operators.aggregates import assign_contiguous_ids

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    # n_buckets resolves adaptively from the plan-size estimate (r8);
    # ids are bit-identical for any bucket count by monotonicity
    out = assign_contiguous_ids(d, "doc_id")
    return out.select("doc_id", F.col("row_id").cast("bigint"))


@_register(
    "revenue_share_within_region",
    """
    WITH rev AS (
        SELECT r.r_name, n.n_name,
               CAST(round(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
                 AS balance
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    )
    SELECT r_name, n_name, balance,
           round(balance / sum(balance) OVER (PARTITION BY r_name), 6)
             AS region_share
    FROM rev
    """,
)
def revenue_share_within_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its REGION total, via a
    group-partitioned window over the already-aggregated rollup — the
    window sees 25 rows however large the fact, so percent-of-parent
    costs nothing beyond the rollup itself.  Shares divide the same
    rounded decimals in both engines, so the quotient is
    bit-reproducible."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(money(decimal_sum("c_acctbal")).alias("balance"))
    )
    w = Window.partitionBy("r_name")
    return rev.select(
        "r_name",
        "n_name",
        "balance",
        F.round(F.col("balance") / F.sum("balance").over(w), 6).alias(
            "region_share"
        ),
    )


