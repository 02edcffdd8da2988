"""Round-12 additions: the grouped-agg pandas UDF surface, skip-gram
co-occurrence mining, classical two-sample / categorical-association
statistics, heavy-tail estimation, group-aware K-fold split auditing,
DPO-style preference-pair mining, and a Markov stationary distribution
with an unrolled linear-algebra oracle.

Reference scope: the reference repo (judson-fluap/cid-etl,
etl_cid10.py) has none of these — they are north-star extensions for
LLM training-data curation and analytics pipelines, following the
standing pattern: every query is a Catalyst-declarative plan (Python
only where a genuine UDAF surface is the point), each with a DuckDB
oracle that replays the math bit-for-bit.

Float-determinism discipline (round-11 convention): wherever a score
is a SUM over an unordered set large enough for addition order to
reach the rounding precision, the summand is an INTEGER (fixed-point
micro units) or the sum is over a bounded-small set (≤ a few hundred
terms, orders of magnitude under the rounding quantum); division /
log / exp appear as single operations on already-exact aggregates.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf hints resolve here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType  # type OBJECT: a DDL string
# return type would need an active SparkContext at import time
from pyspark.sql.window import Window

from cid_etl_spark.queries._registry import _register
from cid_etl_spark.sources.parquet import load_table
from cid_etl_spark.sources.values import values_table

# ---------------------------------------------------------------------------
# §2.9 completion: grouped-agg pandas UDF (VERDICT r11 #5)
# ---------------------------------------------------------------------------

_WGEO_SQL = """
WITH t AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l_quantity) AS BIGINT) AS w
  FROM lineitem
), g AS (
  SELECT l_returnflag, l_linestatus,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(w) AS BIGINT) AS sum_qty,
         sum(CAST(round(ln(cents) * 1000000) AS BIGINT) * w) * 1.0 / sum(w)
             AS logmean_micro
  FROM t GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, n_items, sum_qty,
       round(exp(logmean_micro / 1000000) / 100, 2) AS geomean_price
FROM g
"""


@F.pandas_udf(DoubleType())
def _wgeo_logmean_micro(cents: pd.Series, w: pd.Series) -> float:
    """Quantity-weighted mean of round(ln(cents)*1e6) — the log-domain
    core of a weighted geometric mean, as a GROUPED_AGG pandas UDF
    (the one §2.9 tier without a driver row before round 12).

    Integer-micro discipline: each term is quantized to an exact int64
    BEFORE the weighted sum, so cross-engine addition order can never
    move the result — numpy's pairwise sum and DuckDB's sequential sum
    add the SAME integers.  The only floats are one ln per row (same
    libm-quality value both engines; a last-ulp disagreement shifts
    one micro unit, ~1e-12 of the mean — invisible under the final
    2-dp rounding) and one division of exact int64 sums (< 2^53, so
    the doubles are exact and the division bit-identical).
    """
    import numpy as np

    c = cents.to_numpy(dtype="float64")
    ww = w.to_numpy(dtype="int64")
    t = np.round(np.log(c) * 1_000_000.0).astype("int64")
    return float((t * ww).sum() / ww.sum())


@_register("weighted_geomean_grouped_agg", _WGEO_SQL)
def weighted_geomean_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted geometric mean unit price per (returnflag,
    linestatus) — the canonical multiplicative average for ratio-scale
    prices, and the registry's ``PandasUDFType.GROUPED_AGG`` row: the
    log-mean is a custom UDAF (Arrow-batched, whole-group reduction in
    the worker), exp/rounding stay JVM-side.

    Scale: one fact scan, one shuffle on the 4-value group key; the
    UDAF's per-group state is two running int64 sums, so the Arrow
    frame per group is the group's (cents, w) columns only — at 100 TB
    partial aggregation does NOT apply to pandas UDAFs (whole group
    ships to one worker), which is exactly why the group key here is
    low-cardinality-with-uniform-volume; a high-volume-per-key UDAF
    should be rewritten as the equivalent expression pair
    (sum(round(ln*1e6)*w), sum(w)) — kept as the UDF surface row by
    design.  Plan pinned to ONE AggregateInPandas stage
    (tests/test_round12.py)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_quantity")).cast("bigint").alias("w"),
    )
    # Spark forbids mixing a grouped-agg pandas UDF with built-in
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the
    # UDAF runs alone and the exact counts come from a sibling
    # aggregate joined back on the 4-value group key (broadcast — the
    # join is dimension-sized by construction).
    udaf = li.groupBy("l_returnflag", "l_linestatus").agg(
        _wgeo_logmean_micro(F.col("cents"), F.col("w")).alias("logmean_micro"),
    )
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("w").cast("bigint").alias("sum_qty"),
    )
    g = udaf.join(F.broadcast(counts), ["l_returnflag", "l_linestatus"])
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "n_items",
        "sum_qty",
        F.round(F.exp(F.col("logmean_micro") / 1_000_000) / 100, 2).alias(
            "geomean_price"
        ),
    )


# ---------------------------------------------------------------------------
# Skip-gram co-occurrence mining (word2vec/GloVe preprocessing)
# ---------------------------------------------------------------------------

_SKIPGRAM_K = 100

_SKIPGRAM_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok,
         generate_subscripts(
             string_split_regex(lower(trim(text)), '\s+'), 1) AS pos
  FROM documents WHERE length(trim(text)) > 0
), g AS (
  SELECT tok AS w1,
         lead(tok, 1) OVER w AS n1,
         lead(tok, 2) OVER w AS n2
  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), p AS (
  SELECT w1, n1 AS w2 FROM g WHERE n1 IS NOT NULL
  UNION ALL
  SELECT w1, n2 AS w2 FROM g WHERE n2 IS NOT NULL
)
SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_cooc
FROM p GROUP BY w1, w2
ORDER BY n_cooc DESC, w1, w2
LIMIT {_SKIPGRAM_K}
"""


@_register("skipgram_cooccurrence_topk", _SKIPGRAM_SQL)
def skipgram_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} forward skip-gram co-occurrence pairs (window +1/+2) —
    the count table word2vec-SGNS / GloVe preprocessing builds before
    training.  The positional sequence comes from the canonical
    ``doc_token_seq`` fragment (its lead1/lead2 columns ARE the window)
    so in a batch the explode + per-doc sort is shared; solo, Catalyst
    prunes leads 3-7.  Scale: one doc-keyed window pass, one pair-key
    shuffle with map-side partial counts, and the global top-k is
    TakeOrderedAndProject (per-partition heaps, no total sort, no
    single-partition window).  Ties break on the pair itself so the
    cut is engine-independent."""
    from cid_etl_spark.plans.fragments import doc_token_seq

    seq = doc_token_seq(spark, sf_dir)
    pairs = seq.select(
        F.col("tok").alias("w1"), F.col("lead1").alias("w2")
    ).where(F.col("lead1").isNotNull()).unionAll(
        seq.select(F.col("tok").alias("w1"), F.col("lead2").alias("w2")).where(
            F.col("lead2").isNotNull()
        )
    )
    counts = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cooc")
    )
    return counts.orderBy(F.desc("n_cooc"), "w1", "w2").limit(_SKIPGRAM_K)


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test (click vs purchase event values)
# ---------------------------------------------------------------------------

_WELCH_SQL = """
WITH x AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
  FROM events WHERE event_type IN ('click', 'purchase')
), m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(vc) AS BIGINT) AS s1,
         CAST(sum(vc * vc) AS BIGINT) AS s2
  FROM x GROUP BY event_type
), w AS (
  SELECT
    max(CASE WHEN event_type = 'click' THEN n END) AS n1,
    max(CASE WHEN event_type = 'click' THEN s1 END) * 1.0 AS a1,
    max(CASE WHEN event_type = 'click' THEN s2 END) * 1.0 AS q1,
    max(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
    max(CASE WHEN event_type = 'purchase' THEN s1 END) * 1.0 AS a2,
    max(CASE WHEN event_type = 'purchase' THEN s2 END) * 1.0 AS q2
  FROM m
), d AS (
  SELECT n1, n2,
         a1 / n1 AS m1, a2 / n2 AS m2,
         ((q1 - (a1 / n1) * a1) / (n1 - 1)) / n1 AS se1,
         ((q2 - (a2 / n2) * a2) / (n2 - 1)) / n2 AS se2
  FROM w
)
SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_purchase,
       round(m1 / 100, 6) AS mean_click,
       round(m2 / 100, 6) AS mean_purchase,
       round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat,
       round((se1 + se2) * (se1 + se2)
             / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 4) AS df_welch,
       abs((m1 - m2) / sqrt(se1 + se2)) >= 1.96 AS significant_05
FROM d
"""


@_register("welch_t_test_click_purchase", _WELCH_SQL)
def welch_t_test_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test on event values
    (click vs purchase) with the Welch-Satterthwaite df — the standard
    A/B significance test when variances differ, completing the
    two-sample shelf (mann_whitney = rank-based, ks_test =
    distributional, this = parametric-mean).

    Exactness: moments accumulate as integer cent sums (values are
    cents-exact in the fixture; at sf1 the squared-cents sum tops out
    ~5e14 < 2^53, so the one int→double conversion is exact in both
    engines), then mean/variance/t/df are a fixed chain of double ops
    on identical inputs — bit-identical before the final rounding.
    Scale: one fact scan with the type filter pushed down, one 2-group
    aggregate with map-side partials, then a 1-row pivot."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vc").cast("bigint").alias("s1"),
        F.sum(F.col("vc") * F.col("vc")).cast("bigint").alias("s2"),
    )

    def _pick(t: str, c: str):
        return F.max(F.when(F.col("event_type") == t, F.col(c)))

    w = m.agg(
        _pick("click", "n").alias("n1"),
        (_pick("click", "s1") * 1.0).alias("a1"),
        (_pick("click", "s2") * 1.0).alias("q1"),
        _pick("purchase", "n").alias("n2"),
        (_pick("purchase", "s1") * 1.0).alias("a2"),
        (_pick("purchase", "s2") * 1.0).alias("q2"),
    )
    m1 = F.col("a1") / F.col("n1")
    m2 = F.col("a2") / F.col("n2")
    se1 = ((F.col("q1") - m1 * F.col("a1")) / (F.col("n1") - 1)) / F.col("n1")
    se2 = ((F.col("q2") - m2 * F.col("a2")) / (F.col("n2") - 1)) / F.col("n2")
    d = w.select(
        "n1", "n2",
        m1.alias("m1"), m2.alias("m2"),
        se1.alias("se1"), se2.alias("se2"),
    )
    t = (F.col("m1") - F.col("m2")) / F.sqrt(F.col("se1") + F.col("se2"))
    return d.select(
        F.col("n1").cast("bigint").alias("n_click"),
        F.col("n2").cast("bigint").alias("n_purchase"),
        F.round(F.col("m1") / 100, 6).alias("mean_click"),
        F.round(F.col("m2") / 100, 6).alias("mean_purchase"),
        F.round(t, 6).alias("t_stat"),
        F.round(
            (F.col("se1") + F.col("se2")) * (F.col("se1") + F.col("se2"))
            / (
                F.col("se1") * F.col("se1") / (F.col("n1") - 1)
                + F.col("se2") * F.col("se2") / (F.col("n2") - 1)
            ),
            4,
        ).alias("df_welch"),
        (F.abs(t) >= 1.96).alias("significant_05"),
    )


# ---------------------------------------------------------------------------
# Cramér's V association matrix over categorical columns
# ---------------------------------------------------------------------------

_CRAMERS_SQL = """
WITH base AS (
  SELECT o_orderpriority AS p, o_orderstatus AS s, c_mktsegment AS g
  FROM orders JOIN customer ON o_custkey = c_custkey
), triple AS (
  SELECT p, s, g, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1, 2, 3
), cells AS (
  SELECT 'priority_status' AS pair, p AS a, s AS b,
         CAST(sum(n) AS BIGINT) AS n FROM triple GROUP BY 2, 3
  UNION ALL
  SELECT 'priority_segment', p, g, CAST(sum(n) AS BIGINT) FROM triple
  GROUP BY 2, 3
  UNION ALL
  SELECT 'status_segment', s, g, CAST(sum(n) AS BIGINT) FROM triple
  GROUP BY 2, 3
), marg AS (
  SELECT pair, a, b, n,
         sum(n) OVER (PARTITION BY pair, a) AS ra,
         sum(n) OVER (PARTITION BY pair, b) AS cb,
         sum(n) OVER (PARTITION BY pair) AS nn
  FROM cells
), term AS (
  SELECT pair, a, b, n, nn, ra * cb * 1.0 / nn AS e FROM marg
), agg AS (
  SELECT pair,
         CAST(max(nn) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT a) AS BIGINT) AS r,
         CAST(count(DISTINCT b) AS BIGINT) AS c,
         sum((n - e) * (n - e) / e) + (max(nn) - sum(e)) AS chi2
  FROM term GROUP BY pair
)
SELECT pair, n_rows, r, c,
       round(chi2, 6) AS chi2,
       round(sqrt(chi2 / (n_rows * (least(r, c) - 1))), 6) AS cramers_v
FROM agg
"""


@_register("cramers_v_categorical", _CRAMERS_SQL)
def cramers_v_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association matrix over the categorical columns
    (order priority, order status, customer segment) — the categorical
    complement of round-11's Pearson ``correlation_matrix_lineitem``:
    a data-profiling pass that tells a feature pipeline which
    categorical columns are redundant.

    One fact scan: the (p,s,g) triple rollup (≤75 rows) is computed
    once, every pair's contingency table is a re-aggregation of it
    (exact integer sums), margins are window sums over the tiny cell
    table (same one-scan idiom as mutual_information_lang_source), and
    structural-zero cells enter chi-squared via the identity
    sum_zero(e) = n - sum_observed(e), so no zero-cell generation is
    needed.  Per-pair float sums run over ≤25 cells — addition-order
    noise is ~1e-10 of the 6-dp quantum."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("o_orderpriority").alias("p"),
        F.col("o_orderstatus").alias("s"),
        F.col("c_mktsegment").alias("g"),
    )
    triple = base.groupBy("p", "s", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    pairs = triple.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("priority_status").alias("pair"),
                    F.col("p").alias("a"), F.col("s").alias("b"), F.col("n"),
                ),
                F.struct(
                    F.lit("priority_segment").alias("pair"),
                    F.col("p").alias("a"), F.col("g").alias("b"), F.col("n"),
                ),
                F.struct(
                    F.lit("status_segment").alias("pair"),
                    F.col("s").alias("a"), F.col("g").alias("b"), F.col("n"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    cells = pairs.groupBy("pair", "a", "b").agg(
        F.sum("n").cast("bigint").alias("n")
    )
    # margins over the ≤75-row cell table: low-cardinality windows by
    # construction (cells, not facts) — the scale-audit exemption class
    marg = cells.select(
        "pair", "a", "b", "n",
        F.sum("n").over(Window.partitionBy("pair", "a")).alias("ra"),
        F.sum("n").over(Window.partitionBy("pair", "b")).alias("cb"),
        F.sum("n").over(Window.partitionBy("pair")).alias("nn"),
    )
    term = marg.select(
        "pair", "a", "b", "n", "nn",
        (F.col("ra") * F.col("cb") * 1.0 / F.col("nn")).alias("e"),
    )
    agg = term.groupBy("pair").agg(
        F.max("nn").cast("bigint").alias("n_rows"),
        F.count_distinct("a").cast("bigint").alias("r"),
        F.count_distinct("b").cast("bigint").alias("c"),
        (
            F.sum((F.col("n") - F.col("e")) * (F.col("n") - F.col("e")) / F.col("e"))
            + (F.max("nn") - F.sum("e"))
        ).alias("chi2"),
    )
    return agg.select(
        "pair", "n_rows", "r", "c",
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n_rows") * (F.least("r", "c") - 1))), 6
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator (heavy-tail diagnosis of order values)
# ---------------------------------------------------------------------------

_HILL_K = 200

_HILL_SQL = f"""
WITH top AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  ORDER BY cents DESC, o_orderkey
  LIMIT {_HILL_K} + 1
), tail AS (SELECT min(cents) * 1.0 AS x_tail FROM top)
SELECT CAST({_HILL_K} AS BIGINT) AS k,
       round(x_tail / 100, 2) AS tail_price,
       round(sum(ln(cents / x_tail)), 6) AS sum_log_ratio,
       round({_HILL_K} / nullif(sum(ln(cents / x_tail)), 0), 6) AS alpha_hill
FROM top CROSS JOIN tail
GROUP BY x_tail
"""


@_register("hill_tail_index_prices", _HILL_SQL)
def hill_tail_index_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index over the top-{k} order
    values — the standard heavy-tail diagnosis (alpha < 2 means the
    variance a sampler or salting heuristic assumes does not exist).
    Complements zipf_fit_tokens (rank-frequency fit) with the
    order-statistics MLE on a monetary column.

    Tie-safety: the estimator is value-only — the k+1st order
    statistic is the min of the top-(k+1) set, and its own log-ratio
    term is exactly 0, so summing over ALL k+1 rows equals the
    textbook sum over the top k regardless of how boundary ties were
    cut.  Scale: top-(k+1) is TakeOrderedAndProject (per-partition
    heaps — no global sort, no single-partition window), then one
    (k+1)-row aggregate; the float sum runs over {k}+1 ln-ratios of
    exact integer cents.  Degenerate-tail guard (ADVICE r12 #5): when
    the top k+1 values are all equal every log-ratio is 0 and the
    divisor vanishes — nullif keeps alpha_hill NULL instead of an
    engine-dependent infinity, identically in Spark and DuckDB."""
    k = _HILL_K
    top = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            "o_orderkey",
        )
        .orderBy(F.desc("cents"), "o_orderkey")
        .limit(k + 1)
        .select("cents")
    )
    tail = top.agg((F.min("cents") * 1.0).alias("x_tail"))
    joined = top.crossJoin(F.broadcast(tail))
    return (
        joined.groupBy("x_tail")
        .agg(
            F.sum(F.log(F.col("cents") / F.col("x_tail"))).alias("_slr"),
        )
        .select(
            F.lit(k).cast("bigint").alias("k"),
            F.round(F.col("x_tail") / 100, 2).alias("tail_price"),
            F.round(F.col("_slr"), 6).alias("sum_log_ratio"),
            F.round(
                F.lit(float(k)) / F.nullif(F.col("_slr"), F.lit(0.0)), 6
            ).alias("alpha_hill"),
        )
    )


# ---------------------------------------------------------------------------
# Group-aware K-fold split audit (leakage-safe CV assignment)
# ---------------------------------------------------------------------------

_KFOLD_N = 5

_KFOLD_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT
             % {_KFOLD_N} AS fold
  FROM orders
), leak AS (
  SELECT CAST(count(*) AS BIGINT) AS leaky_customers FROM (
    SELECT o_custkey FROM o GROUP BY o_custkey
    HAVING count(DISTINCT fold) > 1
  )
), tot AS (
  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM o
)
SELECT fold,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS revenue,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / tot.total, 6) AS revenue_share,
       leak.leaky_customers
FROM o CROSS JOIN leak CROSS JOIN tot
GROUP BY fold, leak.leaky_customers, tot.total
"""


@_register("group_kfold_split_audit", _KFOLD_SQL)
def group_kfold_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware {n}-fold cross-validation assignment + audit: folds
    are a pure hash of the GROUP key (customer), so no group straddles
    folds — the split every eval harness needs when rows within a
    group are correlated (the order-level sibling of the document-level
    holdout_split/cross_split rows).  The audit reports per-fold
    volume/group-count/revenue balance AND computes the leakage count
    from the data (a regression here means someone re-keyed the hash).

    Scale: fold is a stateless md5 of the group key (no shuffle to
    assign), the audit is one 5-group aggregate plus a customer-grain
    rollup for the leakage check; revenue sums in exact DECIMAL."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice",
        (
            F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 12), 16, 10)
            .cast("bigint") % _KFOLD_N
        ).alias("fold"),
    )
    leak = (
        o.groupBy("o_custkey")
        .agg(F.count_distinct("fold").alias("nf"))
        .where(F.col("nf") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("leaky_customers"))
    )
    tot = o.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total")
    )
    per = o.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.count_distinct("o_custkey").cast("bigint").alias("n_customers"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev"),
    )
    return per.crossJoin(F.broadcast(leak)).crossJoin(F.broadcast(tot)).select(
        "fold",
        "n_orders",
        "n_customers",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.col("total"), 6).alias("revenue_share"),
        "leaky_customers",
    )


# ---------------------------------------------------------------------------
# DPO-style preference-pair mining by quality score
# ---------------------------------------------------------------------------


def _pref_sql() -> str:
    from cid_etl_spark.functions.text import STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return rf"""
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN length(trim(text)) > 0
              THEN string_split_regex(lower(trim(text)), '\s+')
              ELSE []::VARCHAR[] END AS toks,
         length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace
  FROM documents
), m AS (
  SELECT doc_id, lang,
         CASE WHEN len(toks) > 0
              THEN CAST(list_aggregate(list_transform(toks, x -> length(x)),
                                       'sum') AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mtl,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, x -> x IN ({stop_list})))
                        AS DOUBLE) / len(toks)
              ELSE 0.0 END AS sw,
         CASE WHEN n_nonspace > 0
              THEN CAST(n_punct AS DOUBLE) / n_nonspace
              ELSE 0.0 END AS pr
  FROM t
), q AS (
  SELECT doc_id, lang,
         round(CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END
               * CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.7 END
               * CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.4 END, 4) AS quality
  FROM m
), ranked AS (
  SELECT lang, doc_id, quality,
         row_number() OVER (PARTITION BY lang
                            ORDER BY quality DESC, doc_id) AS rb,
         row_number() OVER (PARTITION BY lang
                            ORDER BY quality ASC, doc_id DESC) AS rw,
         count(*) OVER (PARTITION BY lang) AS n_docs
  FROM q
)
SELECT b.lang, CAST(b.n_docs AS BIGINT) AS n_docs,
       b.doc_id AS chosen_doc, b.quality AS chosen_quality,
       w.doc_id AS rejected_doc, w.quality AS rejected_quality,
       round(b.quality - w.quality, 4) AS quality_gap
FROM ranked b JOIN ranked w ON b.lang = w.lang AND b.rb = 1 AND w.rw = 1
WHERE b.n_docs >= 2
"""


@_register("preference_pairs_by_quality", _pref_sql())
def preference_pairs_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF-style preference-pair mining: per language, the
    highest-quality document (chosen) paired with the lowest-quality
    one (rejected) under the standing composite quality heuristic —
    the pair-construction step a preference-tuning data pipeline runs
    over candidate pools (here the pool key is ``lang``; in production
    it is a prompt id — the plan shape is identical).

    Tie-discipline: quality takes 8 discrete values, so ties are the
    NORMAL case — chosen breaks ties toward the lowest doc_id, rejected
    toward the highest, making chosen != rejected whenever the pool has
    >= 2 documents.  Scale: one scan computes the score, one struct
    min/max aggregate per pool key (no per-pool sort, no window over
    the corpus — the SQL window form is the oracle's replay, not the
    plan)."""
    from cid_etl_spark.functions.text import quality_score

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", quality_score("text").alias("quality")
    )
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max(
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("nid"))
        ).alias("best"),
        F.min(
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("nid"))
        ).alias("worst"),
    )
    return agg.where(F.col("n_docs") >= 2).select(
        "lang",
        "n_docs",
        (-F.col("best.nid")).cast("bigint").alias("chosen_doc"),
        F.col("best.quality").alias("chosen_quality"),
        (-F.col("worst.nid")).cast("bigint").alias("rejected_doc"),
        F.col("worst.quality").alias("rejected_quality"),
        F.round(F.col("best.quality") - F.col("worst.quality"), 4).alias(
            "quality_gap"
        ),
    )


# ---------------------------------------------------------------------------
# Markov-chain stationary distribution of the event-type process
# ---------------------------------------------------------------------------

_MARKOV_ITERS = 8


def _markov_sql() -> str:
    head = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), trans AS (
  SELECT event_type AS src, next_type AS dst,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), prob AS (
  SELECT src, dst, n * 1.0 / sum(n) OVER (PARTITION BY src) AS p
  FROM trans
), ns AS (SELECT count(DISTINCT src) AS c FROM trans),
v0 AS (
  SELECT src AS state, 1.0 / (SELECT c FROM ns) AS p
  FROM (SELECT DISTINCT src FROM trans)
)"""
    steps = "".join(
        f""",
v{i + 1} AS (
  SELECT pr.dst AS state, sum(v.p * pr.p) AS p
  FROM v{i} v JOIN prob pr ON pr.src = v.state
  GROUP BY pr.dst
)"""
        for i in range(_MARKOV_ITERS)
    )
    return (
        head
        + steps
        + f"""
SELECT state, round(p, 6) AS stationary_p FROM v{_MARKOV_ITERS}
"""
    )


@_register("markov_stationary_events", _markov_sql())
def markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain via {n} power iterations from the uniform vector — the
    long-run behavioral mix the raw ``event_transition_matrix`` row
    only implies.  A fixed-iteration linear-algebra op whose oracle is
    the UNROLLED chain of matrix-vector products (recursive CTEs can't
    aggregate in the recursive term, so the oracle materializes v1..v{n}
    as explicit CTEs — same IEEE operation sequence, both engines).

    Scale: ONE fact scan builds the transition counts (the user-keyed
    window is user_event_seq's construction); the row-normalized matrix
    is |event_types|^2 rows and is ``localCheckpoint``ed once (the
    pagerank idiom — without it each of the {n} joins would replay the
    fact scan), so every iteration is a tiny broadcast join + 5-row
    aggregate.  The iterate itself never touches fact-scale data.

    Checkpoint trade-offs, documented for the honesty sweeps: (a) the
    LogicalRDD hides the subtree, so batch fragment substitution can
    never fire here — deliberately NOT declared in QUERY_FRAGMENTS;
    (b) the row-normalization window (transition grain, <= 25 rows) is
    likewise invisible to the plan audit — its input is bounded by
    |event_types|^2, not data volume; (c) under AQE the checkpoint
    materializes its shuffle stages at PLAN BUILD time (same eagerness
    class as the LSH hot-bucket guard's stats job)."""
    from cid_etl_spark.plans.fragments import user_event_seq

    seq = user_event_seq(spark, sf_dir)
    trans = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"), F.col("next_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    prob = trans.select(
        "src",
        "dst",
        (F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("src"))).alias(
            "p"
        ),
    ).localCheckpoint(eager=False)
    states = prob.select("src").distinct()
    ns = states.agg(F.count(F.lit(1)).alias("c"))
    v = states.crossJoin(F.broadcast(ns)).select(
        F.col("src").alias("state"), (1.0 / F.col("c")).alias("p")
    )
    for _ in range(_MARKOV_ITERS):
        v = (
            prob.join(v, prob["src"] == v["state"])
            .groupBy(prob["dst"])
            .agg(F.sum(v["p"] * prob["p"]).alias("p"))
            .select(F.col("dst").alias("state"), "p")
        )
    return v.select("state", F.round("p", 6).alias("stationary_p"))


# ---------------------------------------------------------------------------
# Split-conformal prediction thresholds + coverage audit
# ---------------------------------------------------------------------------

#: md5-hex threshold putting ~20% of doc_ids in the CALIBRATION split
#: (same split idiom as holdout_split_documents).  Exactly 32 hex
#: chars — the length of the md5 digest it is compared against
#: (ADVICE r12 #3: the original 34-char constant behaved identically
#: under lexicographic compare but was a trap for anyone retuning the
#: split fraction).
_CONF_CALIB_HEX = "3" * 32
_CONF_ALPHAS = (0.1, 0.2)

#: The classifier-confidence + heuristic-label CTE stack, shared text
#: with round11._ece_sql (same classifier, same label — this audit is
#: the conformal complement of the ECE reliability table).


def _conformal_sql() -> str:
    from cid_etl_spark.functions.text import STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    alphas = ", ".join(f"({a})" for a in _CONF_ALPHAS)
    return rf"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) > 0
              THEN string_split_regex(lower(trim(text)), '\s+')
              ELSE []::VARCHAR[] END AS toks,
         length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace
  FROM documents
),
clf AS (
  SELECT doc_id, len(toks) AS n_tokens,
         COALESCE(CAST(list_sum(list_transform(toks,
             tk -> ((('0x' || substr(md5(tk), 1, 7))::BIGINT % 4096)
                    * 2654435761) % 4097 - 2048)) AS BIGINT), 0) AS margin
  FROM t
),
pred AS (
  SELECT doc_id,
         CASE WHEN n_tokens > 0
              THEN round(1.0 / (1.0 + exp(-4.0 * (margin::DOUBLE
                                                  / (n_tokens * 2048.0)))), 6)
              ELSE 0.5 END AS conf
  FROM clf
),
heur AS (
  SELECT doc_id,
         round(CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END
               * CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.7 END
               * CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.4 END, 4) AS quality
  FROM (
    SELECT doc_id,
           CASE WHEN len(toks) > 0
                THEN CAST(list_aggregate(list_transform(toks, x -> length(x)),
                                         'sum') AS DOUBLE) / len(toks)
                ELSE 0.0 END AS mtl,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, x -> x IN ({stop_list})))
                          AS DOUBLE) / len(toks)
                ELSE 0.0 END AS sw,
           CASE WHEN n_nonspace > 0
                THEN CAST(n_punct AS DOUBLE) / n_nonspace
                ELSE 0.0 END AS pr
    FROM t
  )
),
scored AS (
  SELECT p.doc_id,
         CAST(round((CASE WHEN h.quality >= 0.9
                          THEN 1.0 - p.conf ELSE p.conf END) * 1000000)
              AS BIGINT) AS s_micro,
         md5(CAST(p.doc_id AS VARCHAR)) < '{_CONF_CALIB_HEX}' AS is_calib,
         p.conf
  FROM pred p JOIN heur h USING (doc_id)
),
calib_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored WHERE is_calib),
cum AS (
  SELECT s_micro,
         sum(count(*)) OVER (ORDER BY s_micro
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_n
  FROM scored WHERE is_calib GROUP BY s_micro
),
ks AS (
  SELECT a.alpha,
         CAST(ceil((calib_n.n + 1) * (1 - a.alpha)) AS BIGINT) AS k,
         calib_n.n AS n_calib
  FROM (VALUES {alphas}) a(alpha) CROSS JOIN calib_n
),
qhat AS (
  SELECT ks.alpha, ks.k, ks.n_calib,
         min(cum.s_micro) AS q_micro
  FROM ks JOIN cum ON cum.cum_n >= ks.k
  GROUP BY ks.alpha, ks.k, ks.n_calib
)
SELECT q.alpha, q.n_calib, q.k,
       round(q.q_micro / 1000000.0, 6) AS q_hat,
       round(avg(CASE WHEN e.s_micro <= q.q_micro THEN 1.0 ELSE 0.0 END), 6)
           AS coverage_eval,
       round(avg(CASE WHEN CAST(round((1.0 - e.conf) * 1000000) AS BIGINT)
                           <= q.q_micro THEN 1 ELSE 0 END
                 + CASE WHEN CAST(round(e.conf * 1000000) AS BIGINT)
                             <= q.q_micro THEN 1 ELSE 0 END), 6)
           AS avg_set_size
FROM qhat q CROSS JOIN (SELECT * FROM scored WHERE NOT is_calib) e
GROUP BY q.alpha, q.n_calib, q.k, q.q_micro
ORDER BY q.alpha
"""


@_register("conformal_threshold_classifier", _conformal_sql())
def conformal_threshold_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of the hashed linear quality
    classifier: on an md5 calibration split (~20%), the nonconformity
    score s = |label − conf| yields, per miscoverage level alpha, the
    ceil((n+1)(1−alpha))-th order statistic q̂; the eval split then
    reports realized coverage (P[s ≤ q̂] ≥ 1−alpha is the conformal
    guarantee) and the mean binary prediction-set size.  The
    distribution-free companion to `calibration_ece_classifier`: ECE
    says how honest the probabilities are, conformal gives thresholds
    with coverage guarantees regardless.

    Scale: scoring is the same map-only codegen pass as the ECE row;
    the order statistic is computed WITHOUT a corpus sort — scores
    quantize to 6-dp micro-units, so a value-grain rollup (≤ 1e6+1
    rows bounded by the score DOMAIN, not the corpus) plus one
    cumulative window over that rollup finds q̂ = min{{s : cum ≥ k}};
    coverage is one aggregate over the eval side.  The single-
    partition window is bounded by the score domain — audited in
    tests/test_plans.py."""
    from cid_etl_spark.functions.text import quality_score
    from cid_etl_spark.operators.classifier import quality_classifier

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (quality_score("text") >= 0.9).cast("int").alias("label"),
    )
    scored_raw = quality_classifier(d, "doc_id", "text", passthrough=("label",))
    scored = scored_raw.select(
        "doc_id",
        F.round(
            (
                F.when(F.col("label") == 1, 1.0 - F.col("quality_score"))
                .otherwise(F.col("quality_score"))
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("s_micro"),
        (
            F.md5(F.col("doc_id").cast("string")) < _CONF_CALIB_HEX
        ).alias("is_calib"),
        F.col("quality_score").alias("conf"),
    )
    calib = scored.filter("is_calib")
    n_calib = calib.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cum = (
        calib.groupBy("s_micro")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "s_micro",
            F.sum("cnt")
            .over(
                Window.orderBy("s_micro").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .alias("cum_n"),
        )
    )
    alphas = values_table(spark, [(a,) for a in _CONF_ALPHAS], "alpha double")
    ks = alphas.crossJoin(F.broadcast(n_calib)).select(
        "alpha",
        F.ceil((F.col("n") + 1) * (1 - F.col("alpha"))).cast("bigint").alias("k"),
        F.col("n").alias("n_calib"),
    )
    qhat = (
        F.broadcast(ks)
        .join(cum, cum["cum_n"] >= ks["k"])
        .groupBy("alpha", "k", "n_calib")
        .agg(F.min("s_micro").alias("q_micro"))
    )
    ev = scored.filter(~F.col("is_calib"))
    joined = ev.crossJoin(F.broadcast(qhat))
    return (
        joined.groupBy("alpha", "n_calib", "k", "q_micro")
        .agg(
            F.round(
                F.avg(
                    F.when(F.col("s_micro") <= F.col("q_micro"), 1.0).otherwise(0.0)
                ),
                6,
            ).alias("coverage_eval"),
            F.round(
                F.avg(
                    F.when(
                        F.round((1.0 - F.col("conf")) * 1_000_000).cast("bigint")
                        <= F.col("q_micro"),
                        1,
                    ).otherwise(0)
                    + F.when(
                        F.round(F.col("conf") * 1_000_000).cast("bigint")
                        <= F.col("q_micro"),
                        1,
                    ).otherwise(0)
                ),
                6,
            ).alias("avg_set_size"),
        )
        .select(
            "alpha",
            "n_calib",
            "k",
            F.round(F.col("q_micro") / 1_000_000.0, 6).alias("q_hat"),
            "coverage_eval",
            "avg_set_size",
        )
        .orderBy("alpha")
    )


# ---------------------------------------------------------------------------
# McNemar's paired test: heuristic filter vs classifier filter
# ---------------------------------------------------------------------------


def _mcnemar_sql() -> str:
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
),
clf AS (
  SELECT doc_id, len(toks) AS n_tokens,
         COALESCE(CAST(list_sum(list_transform(toks,
             tk -> ((('0x' || substr(md5(tk), 1, 7))::BIGINT % 4096)
                    * 2654435761) % 4097 - 2048)) AS BIGINT), 0) AS margin
  FROM t
),
pred AS (
  SELECT doc_id,
         CASE WHEN n_tokens > 0 THEN
           CASE WHEN round(1.0 / (1.0 + exp(-4.0 * (margin::DOUBLE
                     / (n_tokens * 2048.0)))), 6) >= 0.5
                AND n_tokens > 0 THEN 1 ELSE 0 END
         ELSE 0 END AS clf_keep
  FROM clf
),
heur AS (
  SELECT doc_id,
         CASE WHEN round(CASE WHEN mtl >= 3.0 AND mtl <= 10.0
                              THEN 1.0 ELSE 0.5 END
               * CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.7 END
               * CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.4 END, 4) >= 0.9
              THEN 1 ELSE 0 END AS heur_keep
  FROM (
    SELECT doc_id,
           CASE WHEN len(toks) > 0
                THEN CAST(list_aggregate(list_transform(toks, x -> length(x)),
                                         'sum') AS DOUBLE) / len(toks)
                ELSE 0.0 END AS mtl,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, x -> x IN ({stop_list})))
                          AS DOUBLE) / len(toks)
                ELSE 0.0 END AS sw,
           CASE WHEN n_nonspace > 0
                THEN CAST(n_punct AS DOUBLE) / n_nonspace
                ELSE 0.0 END AS pr
    FROM t
  )
),
cells AS (
  SELECT
    CAST(sum(CASE WHEN heur_keep = 1 AND clf_keep = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS both_keep,
    CAST(sum(CASE WHEN heur_keep = 1 AND clf_keep = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS heur_only,
    CAST(sum(CASE WHEN heur_keep = 0 AND clf_keep = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS clf_only,
    CAST(sum(CASE WHEN heur_keep = 0 AND clf_keep = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS neither
  FROM pred JOIN heur USING (doc_id)
)
SELECT both_keep, heur_only, clf_only, neither,
       round(CAST((heur_only - clf_only) * (heur_only - clf_only) AS DOUBLE)
             / (heur_only + clf_only), 6) AS chi2,
       round(CAST((abs(heur_only - clf_only) - 1)
                  * (abs(heur_only - clf_only) - 1) AS DOUBLE)
             / (heur_only + clf_only), 6) AS chi2_cc,
       CAST((abs(heur_only - clf_only) - 1)
            * (abs(heur_only - clf_only) - 1) AS DOUBLE)
           / (heur_only + clf_only) > 3.841459 AS reject_05
FROM cells
"""


@_register("mcnemar_heuristic_vs_classifier", _mcnemar_sql())
def mcnemar_heuristic_vs_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test on the two corpus filters — the heuristic
    quality gate (quality >= 0.9) vs the hashed linear classifier's
    keep decision — over the SAME documents: the discordant cells
    (heur-only, clf-only) drive chi2 = (b−c)²/(b+c), plus the
    continuity-corrected form and the 0.05 decision against the
    chi²(1) critical value.  The right test when comparing two
    filters on paired data (a two-proportion z-test over the same
    rows is wrong — the samples aren't independent); completes the
    paired family beside the two-sample (Welch/Mann-Whitney/KS) rows.

    Scale: ONE map-only pass computes both decisions in a single
    projection (no join of two scans — the plan reads documents
    once), then a 4-cell aggregate; everything after is arithmetic on
    exact integers."""
    from cid_etl_spark.functions.text import quality_score
    from cid_etl_spark.operators.classifier import quality_classifier

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (quality_score("text") >= 0.9).cast("int").alias("heur_keep"),
    )
    scored = quality_classifier(d, "doc_id", "text", passthrough=("heur_keep",))
    paired = scored.select(
        F.col("heur_keep"), F.col("keep").cast("int").alias("clf_keep")
    )
    cells = paired.agg(
        F.sum(
            F.when((F.col("heur_keep") == 1) & (F.col("clf_keep") == 1), 1).otherwise(0)
        ).cast("bigint").alias("both_keep"),
        F.sum(
            F.when((F.col("heur_keep") == 1) & (F.col("clf_keep") == 0), 1).otherwise(0)
        ).cast("bigint").alias("heur_only"),
        F.sum(
            F.when((F.col("heur_keep") == 0) & (F.col("clf_keep") == 1), 1).otherwise(0)
        ).cast("bigint").alias("clf_only"),
        F.sum(
            F.when((F.col("heur_keep") == 0) & (F.col("clf_keep") == 0), 1).otherwise(0)
        ).cast("bigint").alias("neither"),
    )
    b, c = F.col("heur_only"), F.col("clf_only")
    chi2_cc = ((F.abs(b - c) - 1) * (F.abs(b - c) - 1)).cast("double") / (b + c)
    return cells.select(
        "both_keep",
        "heur_only",
        "clf_only",
        "neither",
        F.round(((b - c) * (b - c)).cast("double") / (b + c), 6).alias("chi2"),
        F.round(chi2_cc, 6).alias("chi2_cc"),
        (chi2_cc > 3.841459).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Decision-stump split finder (best gini split per feature)
# ---------------------------------------------------------------------------

_GINI_SPLIT_SQL = """
WITH f AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(round(l_discount * 100) AS BIGINT) AS disc,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
), vals AS (
  SELECT 'quantity' AS feature, qty AS v,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM f GROUP BY qty
  UNION ALL
  SELECT 'discount_cents', disc,
         CAST(count(*) AS BIGINT), CAST(sum(y) AS BIGINT)
  FROM f GROUP BY disc
), cum AS (
  SELECT feature, v, n, pos,
         sum(n) OVER w AS nl, sum(pos) OVER w AS pl,
         sum(n) OVER (PARTITION BY feature) AS nt,
         sum(pos) OVER (PARTITION BY feature) AS pt
  FROM vals
  WINDOW w AS (PARTITION BY feature ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), split AS (
  SELECT feature, v AS threshold,
         CAST(nl AS BIGINT) AS n_left, CAST(nt - nl AS BIGINT) AS n_right,
         round(
           (nl * (1.0 - (pl * 1.0 / nl) * (pl * 1.0 / nl)
                  - ((nl - pl) * 1.0 / nl) * ((nl - pl) * 1.0 / nl))
            + (nt - nl) * (1.0 - ((pt - pl) * 1.0 / (nt - nl))
                                 * ((pt - pl) * 1.0 / (nt - nl))
                           - ((nt - nl - (pt - pl)) * 1.0 / (nt - nl))
                             * ((nt - nl - (pt - pl)) * 1.0 / (nt - nl))))
           / nt, 6) AS impurity,
         round(1.0 - (pt * 1.0 / nt) * (pt * 1.0 / nt)
               - ((nt - pt) * 1.0 / nt) * ((nt - pt) * 1.0 / nt), 6)
             AS gini_parent
  FROM cum WHERE nl < nt
)
SELECT feature, threshold, n_left, n_right, impurity, gini_parent
FROM split
QUALIFY row_number() OVER (PARTITION BY feature
                           ORDER BY impurity, threshold) = 1
ORDER BY feature
"""


@_register("gini_best_split_lineitem", _GINI_SPLIT_SQL)
def gini_best_split_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump learner: the best gini-impurity split threshold
    per numeric feature (quantity, discount) against the return-flag
    target — the inner loop of distributed tree training (the split
    finder IS the scaling problem; everything else is bookkeeping),
    and a feature-importance probe in its own right (impurity drop vs
    the parent gini).

    Scale shape (the histogram trick every distributed GBM uses): ONE
    fact scan rolls up to (feature, value)-grain counts — quantity and
    discount are integer-valued, so the rollup is exact and bounded by
    the FEATURE DOMAIN (~150 rows total), not the fact; candidate
    splits then come from cumulative sums over that tiny table, and
    the per-threshold impurity is a closed form of four exact
    integers.  The windows partition by feature over value-grain rows
    — bounded by domain, audited in tests/test_plans.py.  All
    divisions are double ops on exact integers; impurity ties break
    on the threshold for an engine-stable argmin."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    vals = (
        li.groupBy(F.col("qty").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
        .select(F.lit("quantity").alias("feature"), "v", "n", "pos")
        .unionAll(
            li.groupBy(F.col("disc").alias("v"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("y").cast("bigint").alias("pos"),
            )
            .select(F.lit("discount_cents").alias("feature"), "v", "n", "pos")
        )
    )
    w = (
        Window.partitionBy("feature")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("feature")
    cum = vals.select(
        "feature",
        "v",
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("pl"),
        F.sum("n").over(wt).alias("nt"),
        F.sum("pos").over(wt).alias("pt"),
    )
    nl, pl = F.col("nl"), F.col("pl")
    nt, pt = F.col("nt"), F.col("pt")
    nr, pr = nt - nl, pt - pl
    gini_l = (
        1.0
        - (pl * 1.0 / nl) * (pl * 1.0 / nl)
        - ((nl - pl) * 1.0 / nl) * ((nl - pl) * 1.0 / nl)
    )
    gini_r = (
        1.0
        - (pr * 1.0 / nr) * (pr * 1.0 / nr)
        - ((nr - pr) * 1.0 / nr) * ((nr - pr) * 1.0 / nr)
    )
    split = cum.filter(nl < nt).select(
        "feature",
        F.col("v").alias("threshold"),
        nl.cast("bigint").alias("n_left"),
        nr.cast("bigint").alias("n_right"),
        F.round((nl * gini_l + nr * gini_r) / nt, 6).alias("impurity"),
        F.round(
            1.0
            - (pt * 1.0 / nt) * (pt * 1.0 / nt)
            - ((nt - pt) * 1.0 / nt) * ((nt - pt) * 1.0 / nt),
            6,
        ).alias("gini_parent"),
    )
    rank = Window.partitionBy("feature").orderBy("impurity", "threshold")
    return (
        split.withColumn("__rn", F.row_number().over(rank))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy("feature")
    )


# ---------------------------------------------------------------------------
# Kendall tau-b rank correlation over the top-spend customers
# ---------------------------------------------------------------------------

_KENDALL_TOP_N = 200

_KENDALL_SQL = f"""
WITH spend AS (
  SELECT o_custkey AS ck,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS spend_cents
  FROM orders GROUP BY o_custkey
  ORDER BY spend_cents DESC, ck
  LIMIT {_KENDALL_TOP_N}
), x AS (
  SELECT s.ck, s.spend_cents,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM spend s JOIN customer c ON s.ck = c.c_custkey
), pairs AS (
  SELECT a.spend_cents AS s1, b.spend_cents AS s2,
         a.bal_cents AS b1, b.bal_cents AS b2
  FROM x a JOIN x b ON a.ck < b.ck
), counts AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN (s1 - s2) * (b1 - b2) > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS concordant,
    CAST(sum(CASE WHEN (s1 - s2) * (b1 - b2) < 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS discordant,
    CAST(sum(CASE WHEN s1 = s2 AND b1 <> b2 THEN 1 ELSE 0 END)
         AS BIGINT) AS ties_spend,
    CAST(sum(CASE WHEN b1 = b2 AND s1 <> s2 THEN 1 ELSE 0 END)
         AS BIGINT) AS ties_bal,
    CAST(sum(CASE WHEN s1 = s2 AND b1 = b2 THEN 1 ELSE 0 END)
         AS BIGINT) AS ties_both
  FROM pairs
)
SELECT CAST({_KENDALL_TOP_N} AS BIGINT) AS n, concordant, discordant,
       ties_spend, ties_bal, ties_both,
       round((concordant - discordant) * 1.0
             / sqrt((n0 - ties_spend - ties_both) * 1.0
                    * (n0 - ties_bal - ties_both)), 6) AS tau_b
FROM counts
"""


@_register("kendall_tau_top_customers", _KENDALL_SQL)
def kendall_tau_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between lifetime spend and
    account balance over the top-{n} customers by spend — the
    concordance-based companion to `spearman_acctbal_spend` (Spearman
    measures monotone fit through ranks; Kendall counts pairwise order
    agreements and is the standard choice when comparing two RANKERS,
    e.g. a retrieval reranker vs its teacher), with the full tie
    decomposition tau-b needs.

    Scale: spend rolls up fact-side (one shuffle), the top-{n} cut is
    TakeOrderedAndProject, and the O(n²) pair enumeration runs on the
    BOUNDED {n}-row set (C({n},2) ≈ 20k pairs, broadcast self-join) —
    pair counting never touches an unbounded grain; on full-corpus
    rank correlation use the O(n log n) Spearman row instead (the
    docstrings cross-reference).  All comparisons are on exact cent
    integers; the single float op is the final tau."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spend = (
        orders.groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("spend_cents")
        )
        .orderBy(F.desc("spend_cents"), "ck")
        .limit(_KENDALL_TOP_N)
    )
    x = spend.join(
        F.broadcast(
            customer.select(
                F.col("c_custkey").alias("ck"),
                F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
            )
        ),
        "ck",
    )
    a, b = x.alias("a"), x.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.ck") < F.col("b.ck")).select(
        F.col("a.spend_cents").alias("s1"),
        F.col("b.spend_cents").alias("s2"),
        F.col("a.bal_cents").alias("b1"),
        F.col("b.bal_cents").alias("b2"),
    )
    s1, s2, b1, b2 = F.col("s1"), F.col("s2"), F.col("b1"), F.col("b2")
    counts = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum(F.when((s1 - s2) * (b1 - b2) > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("concordant"),
        F.sum(F.when((s1 - s2) * (b1 - b2) < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("discordant"),
        F.sum(F.when((s1 == s2) & (b1 != b2), 1).otherwise(0))
        .cast("bigint")
        .alias("ties_spend"),
        F.sum(F.when((b1 == b2) & (s1 != s2), 1).otherwise(0))
        .cast("bigint")
        .alias("ties_bal"),
        F.sum(F.when((s1 == s2) & (b1 == b2), 1).otherwise(0))
        .cast("bigint")
        .alias("ties_both"),
    )
    n0 = F.col("n0")
    return counts.select(
        F.lit(_KENDALL_TOP_N).cast("bigint").alias("n"),
        "concordant",
        "discordant",
        "ties_spend",
        "ties_bal",
        "ties_both",
        F.round(
            (F.col("concordant") - F.col("discordant")) * 1.0
            / F.sqrt(
                (n0 - F.col("ties_spend") - F.col("ties_both")) * 1.0
                * (n0 - F.col("ties_bal") - F.col("ties_both"))
            ),
            6,
        ).alias("tau_b"),
    )
