"""Scan/project/scalar, aggregation, join, set-op, window, JSON/event,
text, near-dup and as-of/multimodal/array query registrations
(SURVEY sections A-M; the dense-vector rows live in :mod:`.embeddings`)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cid_etl_spark.functions.strings import (
    extract_root_category,
    format_subcat,
    normalize_code,
    subcategory_or_null,
)
from cid_etl_spark.functions.text import mean_token_length, punct_ratio, token_count
from cid_etl_spark.functions.text import LANG_MARKERS
from cid_etl_spark.operators.aggregates import count_if, decimal_sum, money
from cid_etl_spark.operators.dedup import (
    minhash_dedup_pairs,
    priority_dedup,
    simhash_dedup_pairs,
)
from cid_etl_spark.sources.parquet import load_table
from cid_etl_spark.sources.values import values_table


from cid_etl_spark.queries._registry import _register

# ---------------------------------------------------------------------------
# A. Scan / project / scalar functions (S2, P4-P9, F1-F8)
# ---------------------------------------------------------------------------


@_register(
    "scan_project_filter",
    """
    SELECT c_custkey,
           upper(trim(c_name)) AS name_norm,
           c_mktsegment,
           c_acctbal
    FROM customer
    WHERE c_acctbal > 0
    """,
)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P4/F1: projection + filter + normalization; the filter and
    the 4-column projection both reach the parquet scan."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(
            "c_custkey",
            normalize_code("c_name").alias("name_norm"),
            "c_mktsegment",
            "c_acctbal",
        )
    )


_SCALAR_SQL = """
    WITH p AS (
      SELECT p_partkey,
             upper(substr(p_name, 1, 1))
               || lpad(CAST(p_size % 100 AS VARCHAR), 2, '0')
               || CASE WHEN p_size % 3 = 0 THEN ' ' ELSE 'X' END AS raw_code
      FROM part
    ), n AS (
      SELECT p_partkey, upper(trim(raw_code)) AS s FROM p
    ), d AS (
      SELECT p_partkey, s,
             CASE WHEN length(s) >= 4 AND trim(substr(s, 4, 1)) <> ''
                  THEN substr(s, 1, 3) || '.' || substr(s, 4)
                  ELSE substr(s, 1, 3)
             END AS code_dotted
      FROM n
    )
    SELECT p_partkey,
           s AS code_norm,
           code_dotted,
           split_part(code_dotted, '.', 1) AS code_root,
           CASE WHEN contains(code_dotted, '.') THEN code_dotted END AS subcat_or_null
    FROM d
"""


@_register("scalar_string_suite", _SCALAR_SQL)
def scalar_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F7/P7 on a synthesized ICD-shaped code column: normalize,
    dot-insertion (both branches: blank 4th char vs not), root
    extraction, subcategory-or-null."""
    part = load_table(spark, sf_dir, "part")
    raw = F.concat(
        F.upper(F.substring("p_name", 1, 1)),
        F.lpad((F.col("p_size") % 100).cast("string"), 2, "0"),
        F.when(F.col("p_size") % 3 == 0, F.lit(" ")).otherwise(F.lit("X")),
    )
    df = part.select(F.col("p_partkey"), raw.alias("raw_code"))
    dotted = format_subcat("raw_code")
    return df.select(
        "p_partkey",
        normalize_code("raw_code").alias("code_norm"),
        dotted.alias("code_dotted"),
        extract_root_category(dotted).alias("code_root"),
        subcategory_or_null(dotted).alias("subcat_or_null"),
    )


# ---------------------------------------------------------------------------
# B. Aggregations (A1-A3 + general groupBy)
# ---------------------------------------------------------------------------


@_register(
    "pricing_summary",
    """
    SELECT l_returnflag,
           l_linestatus,
           CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
           round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregation: partial (map-side) aggs,
    exact decimal sums, one shuffle on the 2-column group key."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp")
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money(F.sum(qty)).alias("sum_qty"),
        money(F.sum(price)).alias("sum_base_price"),
        money(F.sum(price * (1 - disc))).alias("sum_disc_price"),
        F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_register(
    "conditional_count_quality",
    """
    SELECT COUNT(*) AS total,
           CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open
    FROM orders
    """,
)
def conditional_count_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: the reference's quality-count shape (total + count-if) as
    one single-pass aggregation (etl_cid10.py:190-193)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("total"),
        count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        count_if(F.col("o_orderstatus") == "O").alias("n_open"),
    )


@_register(
    "priority_dedup_orders",
    """
    SELECT o_custkey, o_orderkey, o_orderpriority
    FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderpriority ASC, o_orderkey ASC
    ) = 1
    """,
)
def priority_dedup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: priority dedup — per customer keep the highest-priority
    (then lowest-key) order.  Window row_number, never sort+drop
    (SURVEY §4.2.1)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    return priority_dedup(
        o, "o_custkey", [F.col("o_orderpriority").asc(), F.col("o_orderkey").asc()]
    )


@_register(
    "rollup_order_counts",
    """
    SELECT o_orderstatus,
           o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (engine surface beyond the
    reference, SURVEY §2.4 note)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(decimal_sum("o_totalprice")).alias("sum_price"),
    )


@_register(
    "top_k_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/top-k: Spark plans TakeOrderedAndProject — per-partition heap
    + driver merge, no global sort."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# C. Joins (J1-J8)
# ---------------------------------------------------------------------------


@_register(
    "join_customer_orders",
    """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(round(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-shape: fact ⋈ broadcast dim, then grouped agg — the dim never
    forces a fact shuffle."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money(decimal_sum("o_totalprice")).alias("revenue"),
        )
    )


@_register(
    "join_chain_revenue",
    """
    SELECT r.r_name,
           n.n_name,
           COUNT(*) AS n_items,
           CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY r.r_name, n.n_name
    """,
)
def join_chain_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J5-shape: 5-table chain.  customer/nation/region broadcast;
    lineitem⋈orders is the only shuffle join (co-partitioned on the
    order key by AQE/SMJ)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            money(F.sum(price * (1 - disc))).alias("revenue"),
        )
    )


@_register(
    "range_join_acctbal_bands",
    """
    SELECT b.band,
           COUNT(*) AS n_customers,
           CAST(round(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN (VALUES ('negative', -1000000.0, 0.0),
                 ('low',      0.0,        1000.0),
                 ('mid',      1000.0,     5000.0),
                 ('high',     5000.0,     1000000.0)) AS b(band, lo, hi)
      ON c.c_acctbal >= b.lo AND c.c_acctbal < b.hi
    GROUP BY b.band
    """,
)
def range_join_acctbal_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J7-shape: interval-membership join as a broadcast theta join
    (BroadcastNestedLoopJoin over a 4-row interval table) — replaces
    the reference's O(N·M) driver loops (etl_cid10.py:296-325)."""
    c = load_table(spark, sf_dir, "customer").select("c_acctbal")
    bands = values_table(
        spark,
        [
            ("negative", -1000000.0, 0.0),
            ("low", 0.0, 1000.0),
            ("mid", 1000.0, 5000.0),
            ("high", 5000.0, 1000000.0),
        ],
        "band string, lo double, hi double",
    )
    return (
        c.join(
            F.broadcast(bands),
            (F.col("c_acctbal") >= F.col("lo")) & (F.col("c_acctbal") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money(decimal_sum("c_acctbal")).alias("sum_acctbal"),
        )
    )


@_register(
    "semi_join_active_suppliers",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
    """,
)
def semi_join_active_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi — suppliers that appear in lineitem (free in Spark,
    absent from the reference; SURVEY §2.3 note)."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")


@_register(
    "anti_join_idle_customers",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    """,
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti — customers idle since 2000 (the absolute no-orders
    form is vacuously empty on the fixture: every customer has at
    least one order, and a 0-row green is weak evidence)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti")


# ---------------------------------------------------------------------------
# D. Set ops + union dedup (U1 + A3 together)
# ---------------------------------------------------------------------------


@_register(
    "union_priority_dedup",
    """
    WITH u AS (
      SELECT c_nationkey AS nationkey, 'customer' AS src FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey, 'supplier' AS src FROM supplier
    )
    SELECT nationkey, src
    FROM u
    QUALIFY row_number() OVER (
        PARTITION BY nationkey
        ORDER BY CASE WHEN src = 'customer' THEN 0 ELSE 1 END, src
    ) = 1
    """,
)
def union_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 + A3: two-source union with source-priority dedup — the
    reference's consolidation tail (etl_cid10.py:357-361) on fixture
    data: per nationkey prefer the 'customer' provenance row."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("src")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("src")
    )
    u = c.unionByName(s)
    prio = F.when(F.col("src") == "customer", 0).otherwise(1)
    return priority_dedup(u, "nationkey", [prio.asc(), F.col("src").asc()])


# ---------------------------------------------------------------------------
# E. Window functions
# ---------------------------------------------------------------------------


@_register(
    "window_topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC
             ) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window with deterministic tiebreak: top-3 orders per
    customer — one shuffle on the partition key."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@_register(
    "window_running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS DOUBLE) AS running_total
    FROM orders
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window with an explicit ROWS frame: per-customer
    running revenue in order-date order (decimal-exact, so the running
    sum is deterministic)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        money(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)).alias(
            "running_total"
        ),
    )


# ---------------------------------------------------------------------------
# F. JSON + time windows over events
# ---------------------------------------------------------------------------


@_register(
    "json_extract_events",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string extraction (events.props) + grouped agg —
    `get_json_object` stays JVM-side."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        money(decimal_sum("value")).alias("sum_value"),
        F.sum(k).alias("sum_k"),
    )


@_register(
    "window_hourly_events",
    """
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def window_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window in batch (identical semantics to the
    Structured Streaming path in streaming/ — same F.window call)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(decimal_sum("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# G. Text analysis over documents (north-star)
# ---------------------------------------------------------------------------


@_register(
    "dedup_exact_documents",
    """
    SELECT md5(text) AS content_md5,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup as hash-groupBy: survivor = min doc_id per
    content hash.  At 100 TB the md5 key (16 bytes) shuffles, not the
    document body."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text")).alias("content_md5")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@_register(
    "text_token_stats",
    r"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) > 0
                THEN len(string_split_regex(lower(trim(text)), '\s+'))
                ELSE 0 END AS n_tokens,
           length(text) AS n_chars_actual,
           round(CASE WHEN length(regexp_replace(text, '\s', '', 'g')) > 0
                 THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
                      / length(regexp_replace(text, '\s', '', 'g'))
                 ELSE 0.0 END, 4) AS punct_ratio,
           round(CASE WHEN length(trim(text)) > 0
                 THEN CAST(list_aggregate(list_transform(
                          string_split_regex(lower(trim(text)), '\s+'),
                          x -> length(x)), 'sum') AS DOUBLE)
                      / len(string_split_regex(lower(trim(text)), '\s+'))
                 ELSE 0.0 END, 4) AS mean_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality features, all codegen expressions."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.round(punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(mean_token_length("text"), 4).alias("mean_token_len"),
    )


def _lang_sql() -> str:
    hits = {
        lang: "len(list_filter(toks, x -> x IN ({})))".format(
            ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        )
        for lang in sorted(LANG_MARKERS)
    }
    hit_cols = ",\n             ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    first_lang_case = "\n                ".join(
        f"WHEN h_{lang} = best THEN '{lang}'" for lang in sorted(LANG_MARKERS)
    )
    return rf"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) > 0
                  THEN string_split_regex(lower(trim(text)), '\s+')
                  ELSE [] END AS toks
      FROM documents
    ), h AS (
      SELECT doc_id,
             {hit_cols}
      FROM t
    ), b AS (
      SELECT doc_id, h_de, h_en, h_es, h_fr,
             greatest(h_de, h_en, h_es, h_fr) AS best
      FROM h
    )
    SELECT doc_id,
           CASE WHEN best = 0 THEN 'und'
                {first_lang_case}
                ELSE 'und' END AS lang_guess
    FROM b
    """


@_register("lang_id_documents", _lang_sql())
def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language marker-hit counts → argmax
    (lexicographic tiebreak), 'und' when nothing matches."""
    from cid_etl_spark.functions.text import lang_id

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id("text").alias("lang_guess"))


# ---------------------------------------------------------------------------
# I. Near-dup extensions without SQL oracles (driver: rows-only check).
#    They sign with pandas siphash, which DuckDB lacks; their md5 twins
#    (minhash_lsh_verified, simhash_pairs_verified) run the same
#    pipeline under an oracle, see ROWS_ONLY_VERIFIED_BY.
# ---------------------------------------------------------------------------


@_register("minhash_lsh_pairs")
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs over documents (shingle →
    sign → band → verify; operators/dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        d, "doc_id", "text", shingle_n=5, num_hashes=32, num_bands=8, threshold=0.5,
        max_bucket_size=2000,  # production path: hot-bucket guard ON
    )


@_register("simhash_pairs")
def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (64-bit fingerprint, 16-bit-chunk
    blocking, Hamming ≤ 3)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_dedup_pairs(d, "doc_id", "text", max_hamming=3, n=3)


# ---------------------------------------------------------------------------
# J. General analytics surface (SURVEY §2.4-§2.8 notes: engine exposes
#    the full Spark built-in families the reference lacks)
# ---------------------------------------------------------------------------


@_register(
    "grouping_sets_orders",
    """
    SELECT o_orderstatus,
           o_orderpriority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the Spark 4 DataFrame API — one shuffle
    producing all three groupings (Expand + single aggregate)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@_register(
    "cube_lineitem_stats",
    """
    SELECT l_returnflag,
           l_linestatus,
           COUNT(*) AS n_items,
           CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dims."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        money(decimal_sum("l_quantity")).alias("sum_qty"),
    )


@_register(
    "intersect_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — set op the reference lacks, free in Spark."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@_register(
    "except_nations",
    """
    SELECT n_nationkey AS nationkey FROM nation
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_suppkey % 7 = 0
    """,
)
def except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): nations not covered by the audit-sampled
    supplier subset (every nation has SOME supplier on the fixture, so
    the unfiltered form returned 0 rows — a vacuous green; the
    deterministic key-sample keeps the result non-empty at the
    correctness scales)."""
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 7 == 0)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return n.subtract(s)


@_register(
    "lag_order_gaps",
    """
    SELECT o_custkey,
           o_orderkey,
           date_diff('day',
                     lag(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate ASC, o_orderkey ASC),
                     o_orderdate) AS days_since_prev
    FROM orders
    """,
)
def lag_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytic: days between a customer's consecutive orders
    (NULL for the first)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).cast("bigint").alias("days_since_prev"),
    )


@_register(
    "rank_customers_in_segment",
    """
    SELECT c_custkey,
           c_mktsegment,
           dense_rank() OVER w AS seg_rank,
           ntile(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
)
def rank_customers_in_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment rank + quartile over a total (tie-broken) order.
    The ORDER BY is unique (custkey tiebreak), so ``dense_rank`` ≡
    ``row_number`` — and since |segments| = 5, the r5
    ``Window.partitionBy(segment)`` form was 5 sort tasks each
    carrying a fifth of all customers at 100× (r6 plan-audit class).
    Ranks now come from the partitioned ``bucketed_row_number``
    (descending balance via a negated bucket key) and the quartile
    from exact ntile(4) arithmetic on that rank with a 5-row count
    rollup; the oracle keeps the plain dense_rank/ntile SQL, and the
    builtins themselves stay demonstrated in
    window_distribution_suite / window_value_functions."""
    from cid_etl_spark.operators.aggregates import (
        bucketed_row_number,
        exact_ntile,
    )

    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        "c_mktsegment",
        (-F.col("c_acctbal")).alias("__negbal"),
    )
    seg_n = base.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("__n")
    )
    ranked = bucketed_row_number(
        base,
        "__negbal",
        tiebreaks=("c_custkey",),
        id_col="__r",
        partition_by=("c_mktsegment",),
    ).join(F.broadcast(seg_n), "c_mktsegment")
    return ranked.select(
        "c_custkey",
        "c_mktsegment",
        F.col("__r").cast("int").alias("seg_rank"),
        exact_ntile(F.col("__r"), F.col("__n"), 4).alias("quartile"),
    )


@_register(
    "count_distinct_per_nation",
    """
    SELECT c_nationkey,
           COUNT(DISTINCT c_mktsegment) AS n_segments,
           COUNT(*) AS n_customers
    FROM customer
    GROUP BY c_nationkey
    """,
)
def count_distinct_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (two-phase partial_count under AQE)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count_distinct("c_mktsegment").alias("n_segments"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@_register(
    "approx_distinct_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate per event_type — the 100 TB path
    where exact distinct would shuffle every key.

    The estimate itself is engine-specific (DuckDB's sketch yields
    different numbers), so what the oracle checks is the CONTRACT: the
    Spark side emits the exact count plus a boolean asserting the
    HLL++ estimate (rsd=0.01) landed within 5% of it — the SQL twin
    recomputes the exact count and expects TRUE.  A broken sketch path
    (or a silently wrong rsd) flips the boolean and hash-mismatches.

    Plan shape (r13, guide §2.3/§4 "aggregate before you shuffle"):
    mixing COUNT(DISTINCT) with the HLL in ONE aggregate triggers the
    one-distinct rewrite, which evaluates the rsd=0.01 sketch (a ~21 KB
    register buffer) once per (event_type, user_id) GROUP — ~0.5M
    sketch buffers at sf0.1, measured 49 s of executor time for a 4 s
    wall.  Deduplicate the pairs first, then aggregate once per
    event_type: COUNT(*) over the distinct pairs IS the exact distinct,
    and the HLL over deduplicated input is REGISTER-IDENTICAL to the
    HLL over the raw stream (registers are maxes over hashed values,
    so duplicates are no-ops) — verified value-identical at sf0.1
    including the raw estimates.  One sketch per event_type instead of
    one per user; the scan stays unspread because the distinct's own
    exchange distributes the work (the round-robin pre-shuffle only
    doubled the shuffled bytes; at 100 TB the scan has enough splits
    that _spread is a no-op either way)."""
    e = load_table(spark, sf_dir, "events", spread=False)
    pairs = e.select("event_type", "user_id").distinct()
    # COUNT(user_id), not COUNT(*): the old count_distinct("user_id")
    # ignored NULL user_ids (as does approx_count_distinct), so a
    # COUNT(*) over the distinct pairs would count one extra "user" per
    # event_type carrying any null — a silent semantics drift on
    # NULL-bearing data (ADVICE r13 #2; fixture-invisible, pinned by
    # tests/test_queries_nulls.py)
    agg = pairs.groupBy("event_type").agg(
        F.count("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.01).alias("__approx"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("__approx") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_within_5pct"),
    )


@_register(
    "monthly_order_revenue",
    """
    SELECT date_trunc('month', o_orderdate) AS month,
           COUNT(*) AS n_orders,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1
    """,
)
def monthly_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc month rollup (P6/F10 family generalized).  Built on
    the canonical ``monthly_order_stats`` fragment (round 9):
    standalone, Catalyst prunes the unused cents column back to the
    old (month, n_orders, revenue) aggregate; in a batch the monthly
    family folds the fact once."""
    from cid_etl_spark.plans.fragments import monthly_order_stats

    return monthly_order_stats(spark, sf_dir).select(
        "month", "n_orders", "revenue"
    )


@_register(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never let Spark scan for
    pivot values at scale — that's an extra job)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


@_register(
    "from_json_typed_events",
    """
    SELECT event_id,
           event_type,
           CAST(props ->> '$.k' AS BIGINT) AS k
    FROM events
    WHERE CAST(props ->> '$.k' AS BIGINT) > 90
    """,
)
def from_json_typed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing with an explicit schema (from_json, not
    schema inference) + predicate on the extracted field."""
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k BIGINT")
    return (
        e.withColumn("k", parsed["k"])
        .filter(F.col("k") > 90)
        .select("event_id", "event_type", "k")
    )


@_register(
    "sessionize_events",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) in batch, as
    gaps-and-islands over the canonical ``user_event_seq`` fragment
    (r8) — exactly the oracle's own formulation: a session breaks
    where the gap from the previous event is ≥ 30 minutes, sessions
    number by a running sum of breaks, and each (user, session) rolls
    up to (first ts, count).  Value-identical to the prior
    ``F.session_window`` form (same ≥-gap split rule; within equal-ts
    ties the gap is 0, which no threshold splits, so the (ts,
    event_id) fragment order changes nothing) — but in a batch the
    user-shuffle sequence pass is shared with every other sequence
    consumer, which session_window's dedicated aggregation node could
    never be.  The streaming path still exercises session_window
    itself (stream_sessionized_users)."""
    from cid_etl_spark.plans.fragments import user_event_seq

    seq = user_event_seq(spark, sf_dir)
    gap_micros = F.unix_micros(
        F.col("ts").cast("timestamp_ltz")
    ) - F.unix_micros(F.col("prev_ts").cast("timestamp_ltz"))
    new_sess = F.when(
        F.col("prev_ts").isNull() | (gap_micros >= 1_800_000_000), 1
    ).otherwise(0)
    numbered = seq.select(
        "user_id", "ts", "event_id", new_sess.alias("__new")
    ).withColumn(
        "session_id",
        F.sum("__new").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
    ).select("user_id", "session_start", "n_events")


# ---------------------------------------------------------------------------
# K. More text analytics (north-star)
# ---------------------------------------------------------------------------


@_register(
    "bpe_token_estimate",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_ish,
           n_chars
    FROM documents
    """,
)
def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-chunk token estimate (BPE proxy) per document."""
    from cid_etl_spark.functions.text import bpe_ish_token_count

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        bpe_ish_token_count("text").cast("bigint").alias("n_bpe_ish"),
        "n_chars",
    )


# ---------------------------------------------------------------------------
# L. Remaining north-star dedup/similarity/text entries
# ---------------------------------------------------------------------------


_NGRAM_PAIRS_SQL = r"""
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
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
                 4) AS jaccard
    FROM sh a
    JOIN sh b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
                4) >= 0.2
    """


@_register("ngram_jaccard_pairs", _NGRAM_PAIRS_SQL)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs with language blocking,
    via the inverted shingle index (operators.dedup
    .ngram_jaccard_pairs_exact): work scales with shingles actually
    shared, not with N² candidate pairs.  When hot shingles make the
    inverted index quadratic in a key, MinHash banding
    (minhash_lsh_pairs) is the sub-quadratic approximate path; a PPJoin
    prefix-filter variant was measured (BASELINE.md, 8× corpus) and
    deleted unused."""
    from cid_etl_spark.operators.dedup import ngram_jaccard_pairs_exact

    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_exact(
        d, "doc_id", "text", n=3, threshold=0.2, block_col="lang"
    )


def _quality_sql() -> str:
    from cid_etl_spark.functions.text import STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return rf"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) > 0
                  THEN string_split_regex(lower(trim(text)), '\s+')
                  ELSE []::VARCHAR[] END AS toks,
             length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace
      FROM documents
    ), m AS (
      SELECT doc_id,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS mtl,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, x -> x IN ({stop_list}))) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS sw,
             CASE WHEN n_nonspace > 0
                  THEN CAST(n_punct AS DOUBLE) / n_nonspace
                  ELSE 0.0 END AS pr
      FROM t
    )
    SELECT doc_id,
           round(CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END
                 * CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.7 END
                 * CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.4 END, 4) AS quality
    FROM m
    """


@_register("quality_score_documents", _quality_sql())
def quality_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic for corpus filtering (functions.text
    .quality_score): token-length band × stopword floor × punctuation
    ceiling."""
    from cid_etl_spark.functions.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


@_register("content_fingerprints")
def content_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 whitespace-normalized content fingerprint + winnowing
    fingerprint count per document (rows-only: DuckDB lacks xxhash64;
    determinism asserted in unit tests)."""
    from cid_etl_spark.functions.text import content_fingerprint, winnowing_fingerprints

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        content_fingerprint("text").alias("fingerprint"),
        F.size(winnowing_fingerprints("text", k=8, window=4)).alias("n_winnow_fps"),
    )


# ---------------------------------------------------------------------------
# J. As-of join (time-series latest-observation join; DuckDB ASOF oracle)
# ---------------------------------------------------------------------------


@_register(
    "asof_prior_purchase",
    """
    WITH clicks AS (
        SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id,
           c.user_id,
           p.event_id AS prior_event_id,
           p.value AS prior_value,
           CAST(floor(epoch(c.ts)) AS BIGINT)
             - CAST(floor(epoch(p.ts)) AS BIGINT) AS gap_sec
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_prior_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: every click event picks up the same user's
    most recent purchase at-or-before it (operators.joins.asof_join —
    union + one window pass, single shuffle on user_id; oracle is
    DuckDB's native ASOF LEFT JOIN).  (by, ts) is unique on the right
    side in the fixtures, so the survivor is deterministic."""
    from cid_etl_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.col("ts").alias("prior_ts"),
        F.col("event_id").alias("prior_event_id"),
        F.col("value").alias("prior_value"),
    )
    joined = asof_join(clicks, purchases, by="user_id", left_ts="ts", right_ts="p_ts")
    return joined.select(
        "event_id",
        "user_id",
        "prior_event_id",
        "prior_value",
        (
            F.col("ts").cast("timestamp_ltz").cast("long")
            - F.col("prior_ts").cast("timestamp_ltz").cast("long")
        ).alias("gap_sec"),
    )


# ---------------------------------------------------------------------------
# K. Multimodal columns (binary payload + typed metadata; north-star)
# ---------------------------------------------------------------------------


@_register(
    "media_meta_stats",
    """
    WITH media AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               CAST(length(sha256(CAST(doc_id AS VARCHAR))) AS BIGINT) AS n_bytes
        FROM documents
    )
    SELECT kind,
           COUNT(*) AS n_media,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           MAX(n_bytes) AS max_bytes
    FROM media
    GROUP BY kind
    """,
)
def media_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata pass: deterministic fake media table
    (multimodal.binary.attach_fake_media — payload = sha2(seed) bytes,
    standing in for binaryFile reads) aggregated per kind WITHOUT
    touching Python — the cheap expression-only pre-filter that runs
    before any decode at 100 TB."""
    from cid_etl_spark.multimodal.binary import attach_fake_media, extract_media_meta

    d = load_table(spark, sf_dir, "documents")
    return extract_media_meta(attach_fake_media(d, "doc_id", "doc_id"))


@_register(
    "media_image_features",
    # The fake payload is CAST(sha2_hex AS BINARY) — i.e. the ASCII
    # bytes of the hex string — so payload[i] == ord(hex_char_i) and
    # DuckDB can replay the stub's byte arithmetic on sha256() output.
    """
    WITH img AS (
        SELECT doc_id AS media_id, sha256(CAST(doc_id AS VARCHAR)) AS h
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT media_id,
           CAST(64 + ord(substr(h, 1, 1)) % 192 AS INTEGER) AS width,
           CAST(64 + ord(substr(h, 2, 1)) % 192 AS INTEGER) AS height,
           CAST(1 + ord(substr(h, 3, 1)) % 4 AS INTEGER) AS channels,
           printf('%.4f',
                  (list_sum(list_transform(range(1, 17),
                                           i -> ord(substr(h, i, 1)))) % 256)
                  / 255.0) AS mean_luma
    FROM img
    """,
)
def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched image 'decode' over the binary payload column
    (multimodal.binary.decode_image_features — mapInPandas, bytes in /
    fixed-width features out; codec stubbed, plumbing real).  The stub
    derives features from payload bytes deterministically, and the
    payload is the ASCII form of a sha256 hex digest — so the DuckDB
    twin replays the identical byte arithmetic over sha256()'s hex
    chars, giving the whole mapInPandas path a hard oracle."""
    from cid_etl_spark.multimodal.binary import attach_fake_media, decode_image_features

    d = load_table(spark, sf_dir, "documents")
    return decode_image_features(attach_fake_media(d, "doc_id", "doc_id"))


@_register(
    "media_audio_features",
    """
    WITH aud AS (
        SELECT doc_id AS media_id, sha256(CAST(doc_id AS VARCHAR)) AS h
        FROM documents WHERE doc_id % 3 = 1
    ),
    dec AS (
        SELECT media_id,
               list_extract([8000, 16000, 22050, 44100, 48000],
                            ord(substr(h, 1, 1)) % 5 + 1) AS sample_rate,
               1000 * (1 + ord(substr(h, 2, 1))) AS n_samples,
               (list_sum(list_transform(range(1, 33),
                                        i -> ord(substr(h, i, 1)))) % 1000)
                 / 1000.0 AS rms_val
        FROM aud
    )
    SELECT media_id,
           CAST(sample_rate AS INTEGER) AS sample_rate,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST((n_samples * 1000) // sample_rate AS BIGINT) AS duration_ms,
           printf('%.4f', rms_val) AS rms
    FROM dec
    """,
)
def media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched audio feature extraction over the binary payload
    column (multimodal.binary.extract_audio_features — same
    mapInPandas shape as the image path: bytes in, fixed-width
    waveform stats out, payload pruned after the stage).  Oracled the
    same way as media_image_features: the payload is sha256 hex chars,
    so the SQL twin replays the stub's byte arithmetic exactly."""
    from cid_etl_spark.multimodal.binary import attach_fake_media, extract_audio_features

    d = load_table(spark, sf_dir, "documents")
    return extract_audio_features(attach_fake_media(d, "doc_id", "doc_id"))


# ---------------------------------------------------------------------------
# L. Array / date / outer-join built-in surface (free in Spark; oracled)
# ---------------------------------------------------------------------------


@_register(
    "array_functions_suite",
    r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           array_to_string(list_slice(toks, 1, 3), ' ') AS first3,
           list_contains(toks, 'the') AS has_the,
           CAST(len(list_distinct(toks)) AS INT) AS n_unique
    FROM t
    """,
)
def array_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface: split/size/slice/join/contains/distinct as pure
    expressions (whole-stage codegen; no shuffle at all)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_contains(toks, "the").alias("has_the"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
    )


@_register(
    "date_functions_suite",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
             AS days_since_epoch_start,
           CAST(dayofweek(o_orderdate) AS INT) AS dow
    FROM orders
    WHERE o_orderkey % 37 = 0
    """,
)
def date_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface: year/quarter/month/trunc/last_day/datediff/
    dayofweek (F10 generalized).  DuckDB's dayofweek is 0=Sunday;
    Spark's is 1=Sunday — normalized via (dayofweek-1)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 37 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.month(d).alias("mo"),
        F.date_trunc("month", d).alias("month_start"),
        F.date_format(F.last_day(d.cast("date")), "yyyy-MM-dd").alias("month_end"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        (F.dayofweek(d) - 1).alias("dow"),
    )


@_register(
    "full_outer_order_events",
    """
    WITH o AS (
        SELECT o_custkey AS k, COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey
    ),
    e AS (
        SELECT user_id AS k, COUNT(*) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT COALESCE(o.k, e.k) AS k, o.n_orders, e.n_events
    FROM o FULL OUTER JOIN e ON o.k = e.k
    """,
)
def full_outer_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (absent from the reference, free in Spark):
    order counts vs event counts per key, preserving both unmatched
    sides; pre-aggregated inputs keep the shuffled payload tiny."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    e = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    joined = o.alias("o").join(e.alias("e"), F.col("o.k") == F.col("e.k"), "full_outer")
    return joined.select(
        F.coalesce(F.col("o.k"), F.col("e.k")).alias("k"),
        F.col("o.n_orders"),
        F.col("e.n_events"),
    )


@_register(
    "top_ngrams_per_lang",
    r"""
    WITH toks AS (
        SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT lang, tok, COUNT(*) AS n
        FROM toks WHERE tok <> '' GROUP BY lang, tok
    ),
    ranked AS (
        SELECT lang, tok, n,
               row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rnk
        FROM counts
    )
    SELECT lang, tok, n, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 5
    """,
)
def top_ngrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-5 tokens per language —
    explode → two-level aggregation (map-side combine on (lang, tok))
    → per-group top-k window.  The everyday 'what's in this corpus'
    sweep of a training-data pipeline.  The token stream comes from
    the canonical shared fragment (plans/fragments.py) so a
    ``run_batch`` with other lexical queries shares ONE explode;
    standalone, Catalyst prunes doc_id and the plan is unchanged."""
    from cid_etl_spark.plans.fragments import token_stream

    toks = token_stream(spark, sf_dir).select("lang", "tok").filter(
        F.col("tok") != ""
    )
    counts = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "tok", "n", "rnk")
    )


@_register(
    "content_flags_documents",
    r"""
    SELECT doc_id,
           regexp_matches(text, 'https?://') AS has_url,
           regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
             AS has_email,
           round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1), 4) AS digit_ratio,
           length(text) > 20 AND length(trim(text)) > 0 AS passes_min_length
    FROM documents
    """,
)
def content_flags_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-policy flags: URL/email detection + digit density +
    minimum-length gate, all regexp expressions (codegen, no shuffle) —
    the cheap first-pass filter a 100 TB corpus goes through before any
    expensive scoring."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        t.rlike("https?://").alias("has_url"),
        t.rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}").alias("has_email"),
        F.round(
            F.length(F.regexp_replace(t, "[^0-9]", "")).cast("double")
            / F.greatest(F.length(t), F.lit(1)),
            4,
        ).alias("digit_ratio"),
        ((F.length(t) > 20) & (F.length(F.trim(t)) > 0)).alias("passes_min_length"),
    )


# ---------------------------------------------------------------------------
# M. Composed corpus-curation pipeline (flagship north-star composition)
# ---------------------------------------------------------------------------


def _curation_sql() -> str:
    from cid_etl_spark.functions.text import STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    hit_cols = ",\n             ".join(
        "len(list_filter(toks, x -> x IN ({}))) AS h_{}".format(
            ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang
        )
        for lang in sorted(LANG_MARKERS)
    )
    lang_case = "\n                ".join(
        f"WHEN h_{lang} = best THEN '{lang}'" for lang in sorted(LANG_MARKERS)
    )
    return rf"""
    WITH filtered AS (
      SELECT doc_id, text FROM documents
      WHERE length(text) > 20 AND length(trim(text)) > 0
    ),
    dedup AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM filtered) WHERE rn = 1
    ),
    t AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) > 0
                  THEN string_split_regex(lower(trim(text)), '\s+')
                  ELSE []::VARCHAR[] END AS toks,
             length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace
      FROM dedup
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS INT) AS n_tokens,
             {hit_cols},
             CASE WHEN len(toks) > 0
                  THEN CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS mtl,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, x -> x IN ({stop_list}))) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS sw,
             CASE WHEN n_nonspace > 0
                  THEN CAST(n_punct AS DOUBLE) / n_nonspace
                  ELSE 0.0 END AS pr
      FROM t
    ),
    s AS (
      SELECT doc_id, n_tokens,
             round(CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END
                   * CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.7 END
                   * CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.4 END, 4) AS quality,
             CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                  {lang_case}
                  ELSE 'und' END AS lang_guess
      FROM m, LATERAL (SELECT greatest(h_de, h_en, h_es, h_fr) AS best) g
    )
    SELECT lang_guess,
           COUNT(*) AS n_docs,
           round(CAST(SUM(CAST(quality AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6)
             AS avg_quality,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM s
    WHERE quality >= 0.5
    GROUP BY lang_guess
    """


@_register("corpus_curation_pipeline", _curation_sql())
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data flow — min-length gate → exact dedup
    (first doc_id survives) → language ID → quality score → threshold →
    per-language corpus stats — as ONE lazy plan.  Catalyst fuses the
    gate into the scan, the dedup is the only wide stage before the
    final aggregation, and every scoring expression is codegen'd; this
    is the CID consolidation shape (filter→dedup→enrich→aggregate)
    re-expressed over documents."""
    from cid_etl_spark.functions.text import lang_id, quality_score, token_count

    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    filtered = d.filter((F.length(t) > 20) & (F.length(F.trim(t)) > 0))
    # Score BEFORE the dedup shuffle: the regex-heavy expressions run
    # map-side at full scan parallelism (post-shuffle, AQE coalesces
    # this small a dataset to ~1 partition — measured 2× on the whole
    # pipeline), and the window then shuffles ~60-byte score rows
    # instead of full document text.  Trade-off: dup rows are scored
    # too — at high dup rates invert the order.
    scored_all = filtered.select(
        "doc_id",
        F.md5("text").alias("__md5"),
        lang_id("text").alias("lang_guess"),
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
    )
    w = Window.partitionBy("__md5").orderBy("doc_id")
    scored = (
        scored_all.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(F.col("quality") >= 0.5)
    )
    return scored.groupBy("lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("quality").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quality"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


