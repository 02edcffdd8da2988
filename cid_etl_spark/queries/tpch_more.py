"""TPC-H completion: the remaining decision-support shapes (W)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cid_etl_spark.operators.aggregates import count_if, money
from cid_etl_spark.sources.parquet import load_table


from cid_etl_spark.queries._registry import _register

# ---------------------------------------------------------------------------
# W. TPC-H completion — the remaining decision-support shapes (Q2, Q4, Q6,
#    Q8, Q9, Q11, Q12, Q13, Q15, Q16, Q19, Q20, Q21, Q22), adapted to the
#    fixture star schema (no partsupp table, no commit/receipt dates — the
#    part-supplier association and lateness predicates derive from lineitem,
#    documented per query).  With Q1/Q3/Q5/Q7/Q10/Q14/Q17/Q18 already
#    registered, the full 22-query suite now runs through the engine.
# ---------------------------------------------------------------------------


@_register(
    "tpch_q2_min_cost_supplier",
    """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eligible AS (
        SELECT ps.l_partkey, ps.l_suppkey, ps.unit_cost
        FROM ps
        JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        JOIN nation n  ON s.s_nationkey = n.n_nationkey
        JOIN region r  ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ), best AS (
        SELECT l_partkey, min(unit_cost) AS min_cost
        FROM eligible GROUP BY l_partkey
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type,
           round(e.unit_cost, 6) AS unit_cost
    FROM eligible e
    JOIN best b ON e.l_partkey = b.l_partkey AND e.unit_cost = b.min_cost
    JOIN part p ON e.l_partkey = p.p_partkey
    JOIN supplier s ON e.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_size <= 15 AND p.p_type = 'LARGE'
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted: the fixture has no
    partsupp, so the part-supplier catalog derives from lineitem —
    supply cost = min unit price ever charged (min is order-independent,
    so the double is bit-identical across engines and the correlated-MIN
    equality join is exact).  The correlated subquery decorrelates to a
    per-part MIN over the region-eligible pairs joined back on
    (partkey, cost) — the classic argmin-by-join.  Scale shape: the
    only wide edges are the two part-keyed aggs (same partitioning,
    reused); supplier/nation/region broadcast, and the final top-100 is
    TakeOrderedAndProject with a unique (s_name, p_partkey) tiebreak."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_type")
    )
    euro_sup = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    eligible = ps.join(
        F.broadcast(euro_sup.select("s_suppkey")),
        ps.l_suppkey == F.col("s_suppkey"),
    ).select("l_partkey", "l_suppkey", "unit_cost")
    # argmin via a window-min over the part key: one shuffle on
    # l_partkey, reused by the filter -- the agg+self-join form costs a
    # second exchange pair plus a sort-merge join on (key, cost)
    w_part = Window.partitionBy("l_partkey")
    best = eligible.withColumn("min_cost", F.min("unit_cost").over(w_part)).filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(euro_sup), best.l_suppkey == euro_sup.s_suppkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@_register(
    "tpch_q4_order_priority",
    """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking), adapted: the fixture has no
    commit/receipt dates, so "late" = shipped more than 60 days after
    the order date (vs the spec's receipt > commit).  The correlated
    EXISTS decorrelates to a LEFT SEMI join on the order key with the
    lateness predicate folded into the join condition — the semi join
    short-circuits per key, the quarter filter pushes to the orders
    scan, and the final rollup is a 5-row map-side partial count."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("order_count")
    )


@_register(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change) — the pure scan-filter-agg
    plan: every predicate (ship year, discount band, quantity cap)
    pushes to the parquet scan, the product aggregates map-side in
    exact decimal, and the whole query is one scan stage plus a 1-row
    final — the shape where a columnar engine shows its scan speed.
    At 100 TB this is embarrassingly parallel: no shuffle of data, only
    of one partial-sum row per task."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(money(F.sum(price * disc)).alias("revenue"))
    )


@_register(
    "tpch_q8_market_share",
    """
    WITH vol AS (
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS volume,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
        JOIN region r    ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
        JOIN part p      ON l.l_partkey = p.p_partkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    ), agg AS (
        SELECT o_year,
               CAST(round(SUM(CASE WHEN supp_nation = 'NATION_5'
                                   THEN volume ELSE 0 END), 2) AS DOUBLE)
                 AS nation_volume,
               CAST(round(SUM(volume), 2) AS DOUBLE) AS total_volume
        FROM vol GROUP BY o_year
    )
    SELECT o_year, nation_volume, total_volume,
           round(nation_volume / total_volume, 6) AS mkt_share
    FROM agg
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_5's share of PROMO-part
    volume sold into ASIA customers, per order year.  Both nation roles
    (customer side for the region gate, supplier side for the share
    numerator) join the same 25-row dim twice under different aliases —
    every dim broadcasts, so the only wide edge is lineitem⋈orders.
    The share divides two money-rounded doubles (identical inputs both
    engines), never raw decimal quotients, keeping the hash stable."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(reg), F.col("cn_region") == reg.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            (price * (1 - disc)).alias("volume"),
            "supp_nation",
        )
    )
    agg = vol.groupBy("o_year").agg(
        money(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(F.lit(0)))
        ).alias("nation_volume"),
        money(F.sum("volume")).alias("total_volume"),
    )
    return agg.withColumn(
        "mkt_share", F.round(F.col("nation_volume") / F.col("total_volume"), 6)
    )


@_register(
    "tpch_q9_product_profit",
    """
    WITH profit AS (
        SELECT sn.n_name AS nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
               - CAST(p.p_retailprice AS DECIMAL(18,2)) * CAST(0.6 AS DECIMAL(2,1))
                 * CAST(l.l_quantity AS DECIMAL(18,2)) AS amount
        FROM lineitem l
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        WHERE p.p_name LIKE '%red%'
    )
    SELECT nation, o_year,
           CAST(round(SUM(amount), 2) AS DOUBLE) AS sum_profit
    FROM profit GROUP BY nation, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: with no partsupp,
    supply cost = 60% of p_retailprice — kept in EXACT decimal
    arithmetic end to end (decimal 0.6 literal, never a double round),
    so the profit sum hashes identically cross-engine.  The '%red%'
    name filter pushes to the part scan and prunes the broadcast; the
    wide edge is lineitem⋈orders keyed on the order key, and the final
    (nation, year) rollup is 25x7 rows — partial-agg friendly."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    cost = (
        F.col("p_retailprice").cast("decimal(18,2)")
        * F.lit(0.6).cast("decimal(2,1)")
        * F.col("l_quantity").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "nation",
            F.year("o_orderdate").cast("int").alias("o_year"),
            (price * (1 - disc) - cost).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(money(F.sum("amount")).alias("sum_profit"))
    )


@_register(
    "tpch_q11_important_stock",
    """
    WITH val AS (
        SELECT l.l_partkey,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS pv
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name IN ('NATION_3', 'NATION_7')
        GROUP BY l.l_partkey
    ), tot AS (SELECT SUM(pv) AS t FROM val)
    SELECT v.l_partkey, CAST(round(v.pv, 2) AS DOUBLE) AS part_value
    FROM val v, tot
    WHERE v.pv > tot.t * CAST(0.001 AS DECIMAL(4,3))
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification), adapted: stock value
    per part = summed discounted revenue from the two target nations'
    suppliers (no partsupp availqty/supplycost in the fixture).  The
    scalar HAVING-subquery (keep parts above 0.1% of the global total)
    becomes a 1-row aggregate broadcast back over the per-part rollup —
    a nested-loop join of one row, never a second wide shuffle.  The
    threshold compares EXACT decimals (decimal total x decimal 0.001
    literal), so the boundary can't flip between engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(price * (1 - disc)).alias("pv"))
    )
    tot = val.agg(F.sum("pv").alias("t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("pv") > F.col("t") * F.lit(0.001).cast("decimal(4,3)"))
        .select("l_partkey", money(F.col("pv")).alias("part_value"))
    )


@_register(
    "tpch_q12_late_shipments",
    """
    SELECT l.l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY l.l_returnflag
    """,
)
def tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes & order priority), adapted: the
    fixture has no l_shipmode/commit/receipt dates, so the grouping
    key is l_returnflag and "late" = shipped >30 days after the order
    date.  The priority split is the spec's conditional-count pair.
    Scale shape: the year filter pushes to the lineitem scan, one
    order-keyed shuffle join, the residual lateness predicate rides on
    the joined row, and the rollup is 3 groups — map-side partials."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            count_if(high).alias("high_line_count"),
            count_if(~high).alias("low_line_count"),
        )
    )


@_register(
    "tpch_q13_customer_distribution",
    """
    WITH c_orders AS (
        SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution), adapted: the
    spec excludes orders by an o_comment pattern; the fixture stand-in
    excludes unspecified-priority orders, keeping the defining trick —
    the filter lives IN THE JOIN CONDITION of a left outer join, so
    zero-order customers still appear with c_count = 0.  Two-level
    aggregation: per-customer counts (one customer-keyed shuffle from
    the orders side; the customer scan itself arrives pre-grouped),
    then a histogram over counts (a few dozen groups, map-side)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@_register(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    ), mx AS (SELECT max(total_rev) AS m FROM revenue)
    SELECT s.s_suppkey, s.s_name,
           CAST(round(r.total_rev, 2) AS DOUBLE) AS total_revenue
    FROM revenue r
    JOIN mx ON r.total_rev = mx.m
    JOIN supplier s ON s.s_suppkey = r.supplier_no
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the spec's view + scalar-MAX subquery
    becomes a per-supplier quarterly rollup, a 1-row MAX broadcast back
    as an equality filter (EXACT decimal compare — ties surface every
    max supplier, as the spec requires), and a broadcast join to the
    supplier dim for the name.  One supplier-keyed shuffle total; the
    quarter filter pushes to the scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(price * (1 - disc)).alias("total_rev")
    )
    mx = revenue.agg(F.max("total_rev").alias("m"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("m"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", money(F.col("total_rev")).alias("total_revenue"))
    )


@_register(
    "tpch_q16_parts_supplier",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_name LIKE '%77%'
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted: the supplier
    pool per (brand, type, size) derives from lineitem (no partsupp),
    and the spec's complaint-comment exclusion becomes an s_name
    pattern.  NOT IN over a never-null key is a LEFT ANTI join (the
    null-semantics trap doesn't bite because s_suppkey is a PK).  The
    count(DISTINCT supplier) rides the same shuffle as the group-by:
    Spark plans it as a two-phase expand/partial-agg, no extra pass."""
    excl = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%77%"))
        .select("s_suppkey")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(excl, li.l_suppkey == excl.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@_register(
    "tpch_q19_discounted_revenue",
    """
    SELECT CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): the OR
    of three (brand, size-band, quantity-band) conjuncts — the classic
    test that an engine distributes join-level disjunctions.  Catalyst
    extracts the common l_partkey equi key so the join stays a hash
    join (never a nested loop), pushes the derivable part-side
    disjunction (brand IN ... AND size <= 15) into the broadcast build,
    and leaves the mixed residual on the joined row.  One row out,
    exact decimal sum."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    size = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & size.between(1, 5) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & size.between(1, 10) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & size.between(1, 15) & qty.between(20, 30))
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(money(F.sum(price * (1 - disc))).alias("revenue"))
    )


@_register(
    "tpch_q20_part_promotion",
    """
    WITH part_ship AS (
        SELECT l.l_partkey, l.l_suppkey,
               SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS sq
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'red%'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_partkey, l.l_suppkey
    ), part_tot AS (
        SELECT l_partkey, SUM(sq) AS tq FROM part_ship GROUP BY l_partkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
    FROM part_ship ps
    JOIN part_tot pt ON ps.l_partkey = pt.l_partkey
    JOIN supplier s ON ps.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE ps.sq > pt.tq * CAST(0.3 AS DECIMAL(2,1))
      AND n.n_name IN ('NATION_2', 'NATION_11')
    """,
)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion), adapted: suppliers in the
    two target nations who shipped more than 30% of a red part's 1997
    volume (the spec's availqty > half-of-shipments test, re-derived
    from lineitem).  The nested IN chain decorrelates to two stacked
    part-keyed aggregates — per (part, supplier) then per part — that
    REUSE one hash partitioning, a threshold join in exact decimal, and
    a distinct over the surviving suppliers.  Dims broadcast; the name
    filter prunes the part build before it reaches the fact join."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_2", "NATION_11")
    ).select("n_nationkey", "n_name")
    part_ship = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"))
    )
    part_tot = part_ship.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    return (
        part_ship.join(part_tot, "l_partkey")
        .filter(F.col("sq") > F.col("tq") * F.lit(0.3).cast("decimal(2,1)"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
    )


@_register(
    "tpch_q21_waiting_orders",
    """
    WITH lf AS (
        SELECT l.l_orderkey, l.l_suppkey,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                    THEN 1 ELSE 0 END AS is_late
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
    ), per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS n_late,
               max(CASE WHEN is_late = 1 THEN l_suppkey END) AS sole_late_supp
        FROM lf GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM per_order po
    JOIN supplier s ON po.sole_late_supp = s.s_suppkey
    WHERE po.n_supp > 1 AND po.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def tpch_q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: "late" =
    shipped >90 days after the order date (no receipt/commit dates).
    The spec's EXISTS(other supplier) + NOT EXISTS(other late supplier)
    pair collapses into ONE order-keyed aggregation — per order, count
    distinct suppliers and distinct late suppliers; an order waits on
    exactly one supplier iff n_supp > 1 and n_late = 1, and max() over
    the single late supplier recovers the culprit.  That's a single
    shuffle where the naive translation runs the fact through three
    self-joins — the aggregation form is how you'd actually run it at
    100 TB.  Top-20 via the heap with the unique s_name tiebreak."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        F.col("l_suppkey"),
    )
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(late).alias("n_late"),
            F.max(late).alias("sole_late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        per_order.join(F.broadcast(s), per_order.sole_late_supp == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@_register(
    "tpch_q22_global_sales",
    """
    WITH eligible AS (
        SELECT c_custkey, c_acctbal,
               c_nationkey % 5 AS cntrycode
        FROM customer
        WHERE c_nationkey % 5 IN (0, 1, 2, 4)
    ), thr AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*) AS avg_bal
        FROM eligible WHERE c_acctbal > 0.0
    )
    SELECT e.cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(round(SUM(CAST(e.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS totacctbal
    FROM eligible e, thr
    WHERE e.c_acctbal > thr.avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = e.c_custkey
            AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY e.cntrycode
    """,
)
def tpch_q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: country code =
    c_nationkey % 5 (no phone column), four target codes.  Rich
    customers (above the average positive balance of the code pool)
    with no RECENT orders (the fixture has no fully order-less rich
    customers, which made the spec's absolute form vacuously empty —
    a 0-row green is weak evidence), rolled up per code.  The scalar AVG subquery is a
    1-row broadcast; the average divides an EXACT decimal sum (cast to
    double) by the count — both engines produce the identical IEEE
    quotient, so the threshold cannot flip.  NOT EXISTS is a LEFT ANTI
    join against the order keys — the one wide edge, keyed on the
    customer."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", (F.col("c_nationkey") % 5).alias("cntrycode")
    ).filter(F.col("cntrycode").isin(0, 1, 2, 4))
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            money(F.sum(F.col("c_acctbal").cast("decimal(18,2)"))).alias("totacctbal"),
        )
    )


