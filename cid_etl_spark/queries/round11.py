"""Round-11 additions: information-theoretic column profiling,
classifier calibration, and per-group exponential smoothing with a
recursive-CTE oracle (its co-purchase rows — link prediction,
association rules, apriori — live in :mod:`.graph`).

Reference scope: the reference repo (judson-fluap/cid-etl,
etl_cid10.py) has none of these — they are north-star extensions for
LLM training-data curation and analytics pipelines, following the
standing pattern: every query is a Catalyst-declarative plan (Python
only where the semantics genuinely need a coupled recurrence), each
with a DuckDB oracle that replays the math bit-for-bit.

Float-determinism discipline (same as operators.classifier): wherever
a score is a SUM over an unordered set, the summand is an INTEGER
(fixed-point micro units), so cross-engine addition order can never
flip a rounded value.  Division/log/exp appear only as single
operations on already-aggregated exact values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cid_etl_spark.queries._registry import _register
from cid_etl_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# Mutual information between two categorical columns
# ---------------------------------------------------------------------------

_MUTUAL_INFO_SQL = """
WITH joint AS (
  SELECT lang, source, count(*) AS n_ls FROM documents GROUP BY 1, 2
),
e AS (
  SELECT n_ls,
         sum(n_ls) OVER () AS n,
         sum(n_ls) OVER (PARTITION BY lang) AS n_l,
         count(*) OVER (PARTITION BY lang) AS k_l,
         sum(n_ls) OVER (PARTITION BY source) AS n_s,
         count(*) OVER (PARTITION BY source) AS k_s
  FROM joint
)
SELECT CAST(max(n) AS BIGINT) AS n_docs,
       round(-sum((n_l / n) * log2(n_l / n) / k_l), 6) AS h_lang_bits,
       round(-sum((n_s / n) * log2(n_s / n) / k_s), 6) AS h_source_bits,
       round(sum((n_ls / n) * log2(n_ls * n / (CAST(n_l AS DOUBLE) * n_s))), 6)
           AS mi_bits,
       round(sum((n_ls / n) * log2(n_ls * n / (CAST(n_l AS DOUBLE) * n_s)))
             / sqrt((-sum((n_l / n) * log2(n_l / n) / k_l))
                    * (-sum((n_s / n) * log2(n_s / n) / k_s))), 6) AS nmi
FROM e
"""


@_register("mutual_information_lang_source", _MUTUAL_INFO_SQL)
def mutual_information_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical corpus columns
    (documents.lang x documents.source): MI in bits, both marginal
    entropies, and normalized MI (MI / sqrt(H_l * H_s)).  The standard
    dependence probe a mixture designer runs before stratifying — a
    high NMI says the two stratification keys are redundant; the
    chi-square row tests significance, this measures STRENGTH in bits.

    Scale: the fact scans ONCE into the joint groupBy (bounded by
    |langs| x |sources| rows, tiny); margins come from window sums
    OVER THE JOINT TABLE (the marginal entropies divide each per-row
    term by the margin's row multiplicity, so re-aggregation branches
    — which Spark would execute as separate fact scans — never exist
    in the plan).  Everything after the first shuffle moves <=100 rows
    regardless of corpus size.  The summand terms are doubles over the
    same joint table in both engines, rounded at 6 dp (same precedent
    as the entropy/chi-sq rows)."""
    d = load_table(spark, sf_dir, "documents")
    joint = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_ls"))
    e = joint.select(
        "n_ls",
        F.sum("n_ls").over(Window.partitionBy()).alias("n"),
        F.sum("n_ls").over(Window.partitionBy("lang")).alias("n_l"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("k_l"),
        F.sum("n_ls").over(Window.partitionBy("source")).alias("n_s"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("k_s"),
    )
    mi_term = (F.col("n_ls") / F.col("n")) * F.log2(
        F.col("n_ls") * F.col("n") / (F.col("n_l").cast("double") * F.col("n_s"))
    )
    hl_term = (F.col("n_l") / F.col("n")) * F.log2(F.col("n_l") / F.col("n")) / F.col(
        "k_l"
    )
    hs_term = (F.col("n_s") / F.col("n")) * F.log2(F.col("n_s") / F.col("n")) / F.col(
        "k_s"
    )
    return e.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.round(-F.sum(hl_term), 6).alias("h_lang_bits"),
        F.round(-F.sum(hs_term), 6).alias("h_source_bits"),
        F.round(F.sum(mi_term), 6).alias("mi_bits"),
        F.round(
            F.sum(mi_term) / F.sqrt((-F.sum(hl_term)) * (-F.sum(hs_term))), 6
        ).alias("nmi"),
    )


# ---------------------------------------------------------------------------
# Classifier calibration: reliability table + expected calibration error
# ---------------------------------------------------------------------------

_ECE_BINS = 10
#: Heuristic-quality threshold that defines the pseudo-label: the
#: functions.text.quality_score factor products land in a small
#: discrete set {1.0, 0.7, 0.5, 0.4, ...}; >= 0.7 means "no factor
#: flagged except possibly the stopword floor".
_ECE_LABEL_THRESHOLD = 0.7


def _micro_sql(num: str, den: str, div: str) -> str:
    """``num / den / 10⁶`` to 6 dp, rounded half-up in BIGINT before
    the one double division — both engines then return the same
    double.  *num* and *den* are non-negative BIGINT SQL expressions
    in millionths; *div* is the integer-division operator (Spark
    ``DIV``, DuckDB ``//``).  Rounding the double quotient instead
    (``round(x, 6)``) splits the engines on exact 7th-digit ties:
    Spark rounds the shortest decimal string half-up, DuckDB rounds
    ``x * 1e6`` in binary."""
    return f"CAST((2 * ({num}) + ({den})) {div} (2 * ({den})) AS DOUBLE) / 1000000.0"


def _ece_sql() -> str:
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
  SELECT least(CAST(floor(p.conf * {_ECE_BINS}) AS BIGINT), {_ECE_BINS - 1}) AS bin,
         p.conf,
         CASE WHEN h.quality >= {_ECE_LABEL_THRESHOLD} THEN 1 ELSE 0 END AS label
  FROM pred p JOIN heur h USING (doc_id)
),
sums AS (
  SELECT bin,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(round(conf * 1000000) AS BIGINT)) AS BIGINT) AS conf_u,
         CAST(sum(CAST(label AS BIGINT)) AS BIGINT) AS n_pos
  FROM scored GROUP BY bin
),
bins AS (
  SELECT bin, n_docs, conf_u, n_pos,
         abs(conf_u - 1000000 * n_pos) AS gap_u
  FROM sums
)
SELECT bin, n_docs,
       {_micro_sql("conf_u", "n_docs", "//")} AS mean_conf,
       {_micro_sql("1000000 * n_pos", "n_docs", "//")} AS frac_pos,
       {_micro_sql("gap_u", "n_docs", "//")} AS abs_gap,
       {_micro_sql("sum(gap_u) OVER ()", "sum(n_docs) OVER ()", "//")} AS ece
FROM bins
ORDER BY bin
"""


@_register("calibration_ece_classifier", _ece_sql())
def calibration_ece_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table + expected calibration error for the hashed
    linear quality classifier, judged against an INDEPENDENT label
    (the heuristic Gopher-style quality score thresholded at
    :data:`_ECE_LABEL_THRESHOLD`): per confidence decile, the mean
    predicted confidence vs the realized positive rate, and the
    count-weighted ECE.  The standard pre-deployment audit for any
    model-based corpus filter — a filter can be accurate but
    mis-calibrated, and threshold choices inherit the miscalibration.

    Scale: ONE map-only scoring pass over the scan — the classifier
    margin and the heuristic label are both whole-stage-codegen Column
    expressions in a single projection (the label rides the
    classifier's ``passthrough``, so no second scan and no doc_id
    re-join exist in the plan) -> one 10-key groupBy -> window total
    over 10 rows.  Shuffle volume is the bin table, not the corpus.
    Confidence is derived from the exact integer margin
    (operators.classifier), the label from the exact discrete
    heuristic, so bin assignment is engine-stable; each bin sums its
    confidences in exact millionths and its positives as BIGINTs, and
    every 6-dp output is rounded from those integers (:func:`_micro_sql`),
    so the two engines agree on every digit."""
    from cid_etl_spark.functions.text import quality_score
    from cid_etl_spark.operators.classifier import quality_classifier

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (quality_score("text") >= _ECE_LABEL_THRESHOLD).cast("int").alias("label"),
    )
    scored = quality_classifier(d, "doc_id", "text", passthrough=("label",))
    both = scored.select(F.col("quality_score").alias("conf"), "label").select(
        F.least(
            F.floor(F.col("conf") * _ECE_BINS).cast("long"),
            F.lit(_ECE_BINS - 1).cast("long"),
        ).alias("bin"),
        "conf",
        "label",
    )
    bins = both.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.round(F.col("conf") * 1000000).cast("long")).alias("conf_u"),
        F.sum(F.col("label").cast("long")).alias("n_pos"),
    ).withColumn("gap_u", F.abs(F.col("conf_u") - 1000000 * F.col("n_pos")))
    return bins.select(
        "bin",
        "n_docs",
        F.expr(_micro_sql("conf_u", "n_docs", "DIV")).alias("mean_conf"),
        F.expr(_micro_sql("1000000 * n_pos", "n_docs", "DIV")).alias("frac_pos"),
        F.expr(_micro_sql("gap_u", "n_docs", "DIV")).alias("abs_gap"),
        F.expr(
            _micro_sql("sum(gap_u) OVER ()", "sum(n_docs) OVER ()", "DIV")
        ).alias("ece"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Holt linear (double-exponential) smoothing per region, recursive oracle
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3
_HOLT_HORIZON = 3
#: Per-group Arrow-frame row bound (VERDICT r11 #7): the series is
#: month-grain per region, so even a century is ~1,200 rows — anything
#: near this cap means a caller fed fact-grain rows into the grouped
#: recurrence, which must fail loudly, not OOM the worker.
_HOLT_MAX_MONTHS = 100_000

_HOLT_SQL = f"""
WITH series AS (
  SELECT r.r_name AS region,
         strftime(o.o_orderdate, '%Y-%m') AS month,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
),
idx AS (
  SELECT region, month, y,
         row_number() OVER (PARTITION BY region ORDER BY month) AS rn,
         count(*) OVER (PARTITION BY region) AS n_months
  FROM series
),
init AS (
  SELECT i1.region, i1.n_months, i1.y AS l0, i2.y - i1.y AS b0
  FROM idx i1 JOIN idx i2 ON i1.region = i2.region AND i2.rn = 2
  WHERE i1.rn = 1
),
smooth AS (
  WITH RECURSIVE rec(region, rn, lvl, trd) AS (
    SELECT region, 1, l0, b0 FROM init
    UNION ALL
    SELECT r.region, r.rn + 1,
           {_HOLT_ALPHA} * i.y + (1 - {_HOLT_ALPHA}) * (r.lvl + r.trd),
           {_HOLT_BETA} * (({_HOLT_ALPHA} * i.y
                            + (1 - {_HOLT_ALPHA}) * (r.lvl + r.trd)) - r.lvl)
           + (1 - {_HOLT_BETA}) * r.trd
    FROM rec r JOIN idx i ON i.region = r.region AND i.rn = r.rn + 1
  )
  SELECT * FROM rec
)
SELECT s.region,
       CAST(i.n_months AS BIGINT) AS n_months,
       round(s.lvl, 4) AS level,
       round(s.trd, 4) AS trend,
       round(s.lvl + 1 * s.trd, 4) AS forecast_1,
       round(s.lvl + 2 * s.trd, 4) AS forecast_2,
       round(s.lvl + 3 * s.trd, 4) AS forecast_3
FROM smooth s
JOIN init i ON s.region = i.region AND s.rn = i.n_months
ORDER BY s.region
"""


def _holt_frame(pdf):
    """Arrow-batch worker for :func:`holt_linear_monthly_revenue` —
    one pre-aggregated (region, month, y) series in, one smoothed row
    out.  Module-level (not a closure) so the recurrence is unit-
    testable against synthetic series without a SparkSession."""
    import pandas as pd

    if len(pdf) > _HOLT_MAX_MONTHS:
        raise ValueError(
            f"holt group {pdf['region'].iloc[0]!r} has {len(pdf)} rows, "
            f"over the _HOLT_MAX_MONTHS={_HOLT_MAX_MONTHS} Arrow-frame "
            "bound — the series must be month-grain (VERDICT r11 #7)"
        )
    pdf = pdf.sort_values("month")
    ys = pdf["y"].to_numpy(dtype="float64")
    if len(ys) < 2:
        # A single observation cannot initialize the trend (b0 needs
        # y2 - y1); drop the group — the SQL oracle's init CTE (inner
        # join on rn = 2) drops it the same way (ADVICE r11).
        return pd.DataFrame(
            columns=["region", "n_months", "level", "trend"]
            + [f"forecast_{h}" for h in range(1, _HOLT_HORIZON + 1)]
        )
    lvl, trd = ys[0], ys[1] - ys[0]
    for y in ys[1:]:
        new_lvl = _HOLT_ALPHA * y + (1 - _HOLT_ALPHA) * (lvl + trd)
        trd = _HOLT_BETA * (new_lvl - lvl) + (1 - _HOLT_BETA) * trd
        lvl = new_lvl
    row = {
        "region": pdf["region"].iloc[0],
        "n_months": len(ys),
        "level": lvl,
        "trend": trd,
    }
    for h in range(1, _HOLT_HORIZON + 1):
        row[f"forecast_{h}"] = lvl + h * trd
    return pd.DataFrame([row])


@_register("holt_linear_monthly_revenue", _HOLT_SQL)
def holt_linear_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (level + trend) smoothing of each
    region's monthly order revenue, with a 3-month linear forecast.
    Completes the forecasting shelf: EWMA is level-only, the seasonal
    rows assume a fixed period, Theil-Sen fits one global slope — Holt
    is the standard adaptive level+trend smoother in between.

    The recurrence l_t = a*y_t + (1-a)(l+b); b_t = B(l_t - l) + (1-B)b
    is two COUPLED sequential equations — not expressible as a Spark
    window (no closed form, unlike EWMA's geometric sum), so this is a
    legitimate ``applyInPandas`` case per the standing UDF policy: one
    Arrow batch per region, an O(n_months) float64 loop inside.  Scale:
    the heavy work (fact scan -> month aggregation) is declarative and
    shuffles once on (region, month); the Python stage sees only
    |regions| x |months| pre-aggregated rows and parallelizes across
    regions.  The DuckDB oracle replays the identical recurrence with
    a recursive CTE — both engines evaluate the same IEEE-double
    operation sequence in the same order, so values match bit-for-bit
    before the 4-dp rounding."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    series = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
    )

    out_schema = (
        "region string, n_months long, level double, trend double, "
        "forecast_1 double, forecast_2 double, forecast_3 double"
    )
    smoothed = series.groupBy("region").applyInPandas(_holt_frame, out_schema)
    # Rounding happens JVM-side (F.round = HALF_UP, the house pairing
    # with DuckDB's round) rather than in the pandas stage, so the
    # whole registry shares ONE rounding convention.
    return smoothed.select(
        "region",
        "n_months",
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round("forecast_1", 4).alias("forecast_1"),
        F.round("forecast_2", 4).alias("forecast_2"),
        F.round("forecast_3", 4).alias("forecast_3"),
    ).orderBy("region")


# ---------------------------------------------------------------------------
# Pearson correlation matrix in one exact-arithmetic pass
# ---------------------------------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_matrix_sql() -> str:
    cols = _CORR_COLS
    units = ", ".join(
        f"CAST(round({c} * 100) AS BIGINT) AS {c}" for c in cols
    )
    moments = ["count(*) AS n"]
    for c in cols:
        moments.append(f"sum({c}) AS s_{c}")
    for i, a in enumerate(cols):
        for b in cols[i:]:
            # per-row BIGINT product (<=1e14, fits int64); DuckDB's
            # sum(BIGINT) widens to HUGEINT, so the moment is exact
            moments.append(f"sum({a} * {b}) AS p_{a}_{b}")
    branches = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            branches.append(f"""
  SELECT '{a}' AS col_a, '{b}' AS col_b, CAST(n AS BIGINT) AS n_rows,
         round((CAST(n AS DOUBLE) * CAST(p_{a}_{b} AS DOUBLE)
                - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(p_{a}_{a} AS DOUBLE)
                       - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(p_{b}_{b} AS DOUBLE)
                         - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))),
               6) AS corr
  FROM m""")
    return (
        "WITH u AS (\n  SELECT " + units + "\n  FROM lineitem\n),"
        + "\nm AS (\n  SELECT " + ",\n         ".join(moments)
        + "\n  FROM u\n)" + "\n  UNION ALL".join(branches)
    )


@_register("correlation_matrix_lineitem", _corr_matrix_sql())
def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs Pearson correlation matrix over the lineitem numeric
    columns (quantity, extendedprice, discount, tax) — the standard
    profiling sweep before feature selection, computed in ONE
    aggregate pass: every pairwise correlation is a closed form over
    {n, sum(x), sum(x*y)}, so k columns need k + k(k+1)/2 moment
    aggregates in a single map-side-combined reduction, NOT k²
    passes.  The 6 output rows unpivot from the one moment row.

    Exactness discipline: values snap to integer HUNDREDTHS (the
    fixture data is exact at 2 dp), per-row products stay inside
    int64, and the moment SUMS widen exactly — DECIMAL(38,0) on the
    Spark side, DuckDB's automatic BIGINT->HUGEINT — so every moment
    is order-insensitive exact arithmetic across engines and
    partitionings.  Pearson is scale-invariant, so the x100 units
    cancel; float enters only in the final closed form — a fixed
    sequence of ~8 double ops per pair, identical op-for-op in the
    DuckDB oracle, rounded once at 6 dp."""
    cols = _CORR_COLS
    li = load_table(spark, sf_dir, "lineitem").select(
        *[
            F.round(F.col(c) * 100).cast("long").alias(c)
            for c in cols
        ]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast("decimal(38,0)")).alias(f"s_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(
                F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)")).alias(
                    f"p_{a}_{b}"
                )
            )
    m0 = li.agg(*aggs)

    def d(name: str):
        return F.col(name).cast("double")

    structs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            num = d("n") * d(f"p_{a}_{b}") - d(f"s_{a}") * d(f"s_{b}")
            den = F.sqrt(
                (d("n") * d(f"p_{a}_{a}") - d(f"s_{a}") * d(f"s_{a}"))
                * (d("n") * d(f"p_{b}_{b}") - d(f"s_{b}") * d(f"s_{b}"))
            )
            structs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col("n").cast("long").alias("n_rows"),
                    F.round(num / den, 6).alias("corr"),
                )
            )
    return m0.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# Retrieval quality evaluation: NDCG / precision / MRR over BM25@20
# ---------------------------------------------------------------------------

_NDCG_K = 20
_NDCG_TERMS = ("data", "query", "index")
#: A document is relevant iff it contains at least this many distinct
#: query terms.  2-of-3, not all-3: the synthetic corpus has ZERO
#: all-three documents at every fixture scale (measured), and an eval
#: with an empty relevant set is vacuous; >=2 gives a few hundred
#: relevant docs at sf0.01, so the metrics discriminate.
_NDCG_MIN_TERMS = 2

_NDCG_SQL = rf"""
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
    FROM tok WHERE term IN ({", ".join(f"'{t}'" for t in _NDCG_TERMS)})
    GROUP BY doc_id, term
), df AS (
    SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
), rel AS (
    SELECT doc_id, count(DISTINCT term) >= {_NDCG_MIN_TERMS} AS relevant
    FROM tf GROUP BY doc_id
), ranked AS (
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
), top AS (
    SELECT r.doc_id, rel.relevant,
           row_number() OVER (ORDER BY r.bm25 DESC, r.doc_id) AS pos
    FROM ranked r JOIN rel USING (doc_id)
    QUALIFY pos <= {_NDCG_K}
), n_rel AS (SELECT count(*) AS n FROM rel WHERE relevant),
ideal AS (
    SELECT i, 1.0 / (ln(i + 1) / ln(2)) AS gain FROM range(1, {_NDCG_K} + 1) r(i)
),
idcg AS (
    SELECT round(sum(gain), 6) AS v
    FROM ideal CROSS JOIN n_rel
    WHERE i <= greatest(least(n_rel.n, {_NDCG_K}), 1)
)
SELECT CAST(n_rel.n AS BIGINT) AS n_relevant,
       CAST(sum(CASE WHEN t.relevant THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
       round(sum(CASE WHEN t.relevant THEN 1.0 / (ln(t.pos + 1) / ln(2)) ELSE 0 END), 6)
           AS dcg,
       idcg.v AS idcg,
       round(sum(CASE WHEN t.relevant THEN 1.0 / (ln(t.pos + 1) / ln(2)) ELSE 0 END)
             / idcg.v, 6) AS ndcg,
       round(CAST(sum(CASE WHEN t.relevant THEN 1 ELSE 0 END) AS DOUBLE)
             / {_NDCG_K}, 6) AS precision_at_k,
       round(coalesce(1.0 / min(CASE WHEN t.relevant THEN t.pos END), 0.0), 6)
           AS mrr
FROM top t CROSS JOIN n_rel CROSS JOIN idcg
GROUP BY n_rel.n, idcg.v
"""


@_register("ndcg_retrieval_eval", _NDCG_SQL)
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality metrics for the BM25 stack: NDCG@20,
    precision@20 and MRR of `bm25_search_documents`'s ranking,
    judged against a deterministic relevance label (a document is
    relevant iff it contains at least :data:`_NDCG_MIN_TERMS` of the
    query terms — an engine-replayable proxy with a non-vacuous
    relevant set at every fixture scale).  A training-data pipeline that mines
    hard negatives or builds retrieval corpora needs its ranker
    AUDITED, not assumed; this is the standing eval row.

    Scale: the scoring plan is bm25_search_documents' (corpus stats
    fold to one row, dfs broadcast, top-k is a heap); the eval adds a
    relevance flag on the query-term tf table (query-sized, not
    corpus-sized), a window over K=20 rows, and an IDCG computed from
    a literal sequence — nothing fact-scale shuffles.  Binary
    relevance keeps DCG terms engine-exact (1/log2(pos+1) over
    integer positions)."""
    from cid_etl_spark.plans.fragments import token_stream

    tok = token_stream(spark, sf_dir).select("doc_id", F.col("tok").alias("term"))
    tf = (
        tok.filter(F.col("term").isin(*_NDCG_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("len"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("len").alias("avgdl"),
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    rel = tf.groupBy("doc_id").agg(
        (F.count_distinct("term") >= _NDCG_MIN_TERMS).alias("relevant")
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    score = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("len") / F.col("avgdl"))
    )
    ranked = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 4).alias("bm25"))
    )
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    top = (
        ranked.join(rel, "doc_id")
        .select("doc_id", "relevant", F.row_number().over(w).alias("pos"))
        .filter(F.col("pos") <= _NDCG_K)
    )
    n_rel = rel.filter("relevant").agg(F.count(F.lit(1)).alias("n"))
    log2 = lambda c: F.log(c) / F.log(F.lit(2.0))  # noqa: E731
    dcg_term = F.when(F.col("relevant"), 1.0 / log2(F.col("pos") + 1)).otherwise(
        F.lit(0.0)
    )
    agg = top.crossJoin(F.broadcast(n_rel)).groupBy("n").agg(
        F.sum(F.when(F.col("relevant"), 1).otherwise(0))
        .cast("long")
        .alias("hits_at_k"),
        F.round(F.sum(dcg_term), 6).alias("dcg"),
        F.sum(dcg_term).alias("_dcg_raw"),
        F.min(F.when(F.col("relevant"), F.col("pos"))).alias("_first_hit"),
    )
    # IDCG over the literal 1..min(n_relevant, K) sequence
    idcg_raw = F.aggregate(
        F.sequence(
            F.lit(1),
            F.greatest(F.least(F.col("n"), F.lit(_NDCG_K)), F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / log2(i.cast("double") + 1),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_relevant"),
        "hits_at_k",
        "dcg",
        F.round(idcg_raw, 6).alias("idcg"),
        F.round(F.col("_dcg_raw") / F.round(idcg_raw, 6), 6).alias("ndcg"),
        F.round(F.col("hits_at_k").cast("double") / _NDCG_K, 6).alias(
            "precision_at_k"
        ),
        F.round(
            F.coalesce(1.0 / F.col("_first_hit").cast("double"), F.lit(0.0)), 6
        ).alias("mrr"),
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance (delta-join rule)
# ---------------------------------------------------------------------------

_IVM_CUTOFF = "1999-01-01 00:00:00"

_IVM_JOIN_SQL = """
SELECT n.n_name AS nation,
       CAST(round(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@_register("incremental_join_maintenance", _IVM_JOIN_SQL)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOINED materialized view — the
    delta-JOIN rule, the step beyond `incremental_agg_maintenance`'s
    decomposable-aggregate merge: for V = R ⋈ S with a static
    dimension side S, an insert batch ΔR maintains the view as
    ΔV = ΔR ⋈ S — only the NEW fact rows are joined, then the partial
    aggregates merge per key exactly as in the agg row.  The stored
    state here is the pre-cutoff rollup (standing in for yesterday's
    persisted view); the oracle is the full three-table recompute, so
    the row proves merge(state, ΔR ⋈ S) == recompute(R ⋈ S) — the
    contract that lets a 100 TB pipeline join one day's partition
    against broadcast dims instead of re-joining years of facts.
    (A changing dimension needs the symmetric rule
    ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS, or SCD2 snapshots — out of scope for this
    row; `scd2_point_in_time_join` covers the dimension-history
    side.)  Sums are exact decimals; both join pipelines broadcast
    the dims."""
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")
    price = F.col("o_totalprice").cast("decimal(18,2)")

    def joined_rollup(fact: DataFrame) -> DataFrame:
        return (
            fact.join(F.broadcast(cust), fact["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.sum(price).alias("rev_part"), F.count(F.lit(1)).alias("n_part"))
        )

    # "stored" view state: pre-cutoff joined rollup (in production this
    # is read back from the state table; shape identical)
    state = joined_rollup(o.filter(F.col("o_orderdate") < cutoff))
    # delta-join rule: ONLY the new batch joins the dimensions
    delta = joined_rollup(o.filter(F.col("o_orderdate") >= cutoff))
    from cid_etl_spark.operators.aggregates import money

    merged = (
        state.unionByName(delta)
        .groupBy("n_name")
        .agg(F.sum("rev_part").alias("rev"), F.sum("n_part").alias("n"))
    )
    return merged.select(
        F.col("n_name").alias("nation"),
        money(F.col("rev")).alias("revenue"),
        F.col("n").cast("bigint").alias("n_orders"),
    )
