"""Statistical aggregates, sampling, redaction, rolling windows,
decorrelated-subquery and gaps-and-islands registrations (N, R)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cid_etl_spark.functions.text import token_count, tokens
from cid_etl_spark.operators.aggregates import count_if, decimal_sum, money
from cid_etl_spark.sources.parquet import load_table
from cid_etl_spark.sources.values import values_table


from cid_etl_spark.queries._registry import _register
from cid_etl_spark.queries.core import _NGRAM_PAIRS_SQL, ngram_jaccard_pairs

# ---------------------------------------------------------------------------
# N. Statistical aggregates / sampling / redaction / rolling windows
# ---------------------------------------------------------------------------


@_register(
    "percentile_stats_lineitem",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50_price,
           round(quantile_cont(l_extendedprice, 0.9), 4)  AS p90_price,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price,
           round(stddev_samp(l_quantity), 6)              AS sd_qty,
           round(corr(l_quantity, l_extendedprice), 6)    AS corr_qty_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + second-moment statistics per
    group — the data-profiling sweep a curation pipeline runs before
    setting quality thresholds.  Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the (n-1)·p linear-interpolation
    definition; stddev/corr are the standard sample estimators.  All
    one hash-aggregate: partial aggregation map-side, one shuffle on
    the group key.  (At 100 TB swap ``percentile`` for
    ``approx_percentile`` — same plan shape, sketch-mergeable.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99_price"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "stratified_sample_documents",
    """
    SELECT lang, doc_id, n_chars FROM (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 50
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: cap-N docs per language,
    selected by md5-hash order — reproducible across runs and engines
    (no RNG state), uniform within each stratum because the hash is
    uniform.  One shuffle on the stratum key; at corpus scale this is
    the standard 'balanced eval subset' builder, and heavy strata
    can be pre-filtered with a hash-prefix gate so the window only
    sees ~N candidates per stratum."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .drop("rn")
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^\s]+"
_NUM_RE = r"[0-9]{3,}"


@_register(
    "pii_redaction_documents",
    rf"""
    WITH counted AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(text, '{_URL_RE}')) AS INT)   AS n_urls,
               regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_URL_RE}', '<URL>', 'g') AS step2
        FROM documents
    )
    SELECT doc_id, n_emails, n_urls,
           CAST(len(regexp_extract_all(step2, '{_NUM_RE}')) AS INT) AS n_numseq,
           length(regexp_replace(step2, '{_NUM_RE}', '<NUM>', 'g')) AS redacted_len,
           substr(regexp_replace(step2, '{_NUM_RE}', '<NUM>', 'g'), 1, 40)
               AS redacted_head
    FROM counted
    """,
)
def pii_redaction_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: emails → <EMAIL>, URLs → <URL>, then long
    digit runs → <NUM>, with per-doc match counts for audit.  Pure
    codegen'd regexp expressions (patterns chosen from the common
    Java-regex/RE2 subset so the DuckDB oracle is bit-identical); order
    matters — emails first so their digits aren't half-scrubbed.  A
    narrow map over the corpus: no shuffle, trivially parallel at any
    scale."""
    d = load_table(spark, sf_dir, "documents")
    step2 = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    c = d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_URL_RE)).cast("int").alias("n_urls"),
        step2.alias("step2"),
    )
    redacted = F.regexp_replace(F.col("step2"), _NUM_RE, "<NUM>")
    return c.select(
        "doc_id",
        "n_emails",
        "n_urls",
        F.regexp_count(F.col("step2"), F.lit(_NUM_RE)).cast("int").alias("n_numseq"),
        F.length(redacted).alias("redacted_len"),
        F.substring(redacted, 1, 40).alias("redacted_head"),
    )


@_register(
    "dau_rolling_events",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               COUNT(DISTINCT user_id) AS dau,
               COUNT(*) AS n_events
        FROM events
        GROUP BY CAST(ts AS DATE)
    )
    SELECT CAST(day AS VARCHAR) AS day, dau, n_events,
           CAST(SUM(n_events) OVER w AS BIGINT) AS events_7d,
           round(AVG(CAST(dau AS DOUBLE)) OVER w, 6) AS avg_dau_7d
    FROM daily
    WINDOW w AS (
        ORDER BY day - DATE '1970-01-01'
        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
    )
    """,
)
def dau_rolling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users with a 7-day rolling event volume and rolling
    mean DAU — the engagement dashboard shape.  Two-level plan: one
    hash-aggregate to days (map-side combine crushes the volume), then
    a RANGE-framed window over the tiny daily table keyed on integer
    epoch-days (date-ordered RANGE frames need a numeric key in both
    engines).  The window input is |days| rows regardless of corpus
    size, so the frame cost never scales with the data."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("dau"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w = (
        Window.orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        F.col("day").cast("string").alias("day"),
        "dau",
        "n_events",
        F.sum("n_events").over(w).cast("bigint").alias("events_7d"),
        F.round(F.avg(F.col("dau").cast("double")).over(w), 6).alias("avg_dau_7d"),
    )


@_register(
    "dedup_clusters_documents",
    f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
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
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id
    FROM cc
    GROUP BY node
    """,
)
def dedup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clusters*: n-gram Jaccard pairs resolved to connected
    components (operators.graph.connected_components, iterative
    min-label propagation) — the step that turns pairwise dedup output
    into keep/drop decisions (keep ``doc_id == cluster_id``).  The
    oracle walks the same transitive closure with a recursive CTE;
    both converge to min-id-per-component."""
    from cid_etl_spark.operators.graph import connected_components

    pairs = ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@_register(
    "salted_agg_lineitem",
    """
    SELECT l_returnflag,
           round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def salted_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (operators.aggregates
    .salted_agg): lineitem has only 3 return flags — the textbook hot
    reduce key.  Rows pre-aggregate on (key, salt) so each hot key
    spreads over 16 reducers, then the 48 partials merge on the key
    alone.  Exactly equal to the direct groupBy (the oracle IS the
    direct form); AQE splits skewed joins but cannot split a hot
    aggregation key — salting is the scale path for that."""
    from cid_etl_spark.operators.aggregates import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": F.sum(F.col("l_quantity").cast("decimal(18,2)")),
            "n_rows": F.count(F.lit(1)),
            "max_price": F.max("l_extendedprice"),
        },
        salt_buckets=16,
        salt_on="l_orderkey",
    )
    return out.select(
        "l_returnflag",
        F.round(F.col("sum_qty").cast("double"), 2).alias("sum_qty"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "max_price",
    )


_DECON_GRAMS_CTE = r"""
    WITH grams AS (
        SELECT doc_id,
               md5(unnest(list_distinct(list_transform(
                   range(1, greatest(len(tk) - 2, 1) + 1),
                   i -> array_to_string(tk[i:i+2], ' '))))) AS gram_hash
        FROM (SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS tk
              FROM documents)
    ),
    bench AS (SELECT DISTINCT gram_hash FROM grams WHERE doc_id % 97 = 0)
"""


@_register(
    "decontaminate_documents",
    _DECON_GRAMS_CTE
    + """
    SELECT g.doc_id,
           CAST(COUNT(DISTINCT g.gram_hash) AS BIGINT) AS n_shared_ngrams
    FROM grams g JOIN bench USING (gram_hash)
    WHERE g.doc_id % 97 <> 0
    GROUP BY g.doc_id
    """,
)
def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.decontaminate): docs with
    doc_id % 97 == 0 stand in for an eval suite; every other doc is
    scored by how many distinct word trigrams it shares with that
    suite.  The benchmark's gram set is broadcast, so the 100 TB side
    is a map-side hash join + one groupBy(doc_id) — the corpus is never
    shuffled by gram.  The reference has no corpus ops at all
    (/root/reference/etl_cid10.py is a CSV ETL); this is north-star
    training-data hygiene."""
    from cid_etl_spark.operators.decontaminate import contamination_report

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    rep = contamination_report(corpus, bench, "doc_id", "text", n=3)
    return rep.select(
        "doc_id", F.col("n_shared_ngrams").cast("bigint").alias("n_shared_ngrams")
    )


@_register(
    "quantile_trim_documents",
    """
    WITH b AS (
        SELECT quantile_cont(n_chars, 0.05) AS lo,
               quantile_cont(n_chars, 0.95) AS hi
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
    FROM documents, b
    WHERE n_chars BETWEEN lo AND hi
    GROUP BY lang
    """,
)
def quantile_trim_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-quantile outlier trim: keep docs whose length sits inside
    the corpus-wide [p5, p95] band, then per-language survivor stats.
    The two exact percentiles are ONE tiny aggregate broadcast back
    over the scan (crossJoin of a 1-row frame) — the pattern for any
    'filter by a global statistic' pass at scale: no self-join, no
    second shuffle of the fact table; Spark `percentile` and DuckDB
    `quantile_cont` share linear-interpolation semantics."""
    d = load_table(spark, sf_dir, "documents")
    band = d.agg(
        F.percentile("n_chars", 0.05).alias("lo"),
        F.percentile("n_chars", 0.95).alias("hi"),
    )
    kept = d.crossJoin(F.broadcast(band)).filter(
        F.col("n_chars").between(F.col("lo"), F.col("hi"))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(
            F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_chars"),
    )


# Deterministic per-source sampling rates for the corpus-mixture query:
# src{i} keeps ((i*7) % 19 + 1)/20 of its docs (5%..95%, varied).  The
# gate compares the first 4 hex chars of md5(doc_id) against the rate's
# 16-bit hex threshold — identical strings in Spark and DuckDB, no RNG.
_MIXTURE_THRESHOLDS: dict[str, str] = {
    f"src{i}": format(int(((i * 7) % 19 + 1) / 20 * 65536), "04x") for i in range(20)
}


def _mixture_values_sql() -> str:
    rows = ", ".join(
        f"('{s}', '{t}')" for s, t in sorted(_MIXTURE_THRESHOLDS.items())
    )
    return f"(VALUES {rows}) AS w(source, thr)"


@_register(
    "corpus_mixture_sample",
    f"""
    SELECT d.source,
           COUNT(*) AS n_sampled,
           CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d JOIN {_mixture_values_sql()} USING (source)
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < w.thr
    GROUP BY d.source
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixture: each source is down-sampled to its own
    rate (the standard 'mix N datasets by weight' step before
    training).  Rates live in a tiny weights table broadcast onto the
    corpus; the keep/drop gate is a deterministic md5-prefix
    comparison, so the sample is reproducible across runs, engines and
    partitionings — re-running on 100 TB yields the same rows, and the
    whole pass is map-side (one shuffle only for the final per-source
    count)."""
    d = load_table(spark, sf_dir, "documents")
    weights = values_table(
        spark, sorted(_MIXTURE_THRESHOLDS.items()), "source string, thr string"
    )
    sampled = d.join(F.broadcast(weights), "source").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < F.col("thr")
    )
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


@_register(
    "repetition_filter_documents",
    r"""
    WITH tk AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id,
               round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
                   AS distinct_ratio,
               unnest(list_transform(range(1, len(t)),
                                     i -> array_to_string(t[i:i+1], ' ')))
                   AS gram
        FROM tk WHERE len(t) >= 2
    ),
    g1 AS (
        SELECT doc_id, distinct_ratio, gram, COUNT(*) AS c
        FROM base GROUP BY 1, 2, 3
    ),
    g2 AS (
        SELECT doc_id, distinct_ratio,
               round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
        FROM g1 GROUP BY 1, 2
    )
    SELECT doc_id, distinct_ratio, top_bigram_frac,
           (top_bigram_frac < 0.1 AND distinct_ratio > 0.4) AS keep
    FROM g2
    """,
)
def repetition_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: per-document distinct
    token ratio (map-side, pure expressions) and top-bigram fraction
    (most frequent word bigram over all bigrams).  The reference has no
    corpus ops (/root/reference/etl_cid10.py is a CSV ETL); this is the
    standard repetition gate from the Gopher/MassiveText cleaning
    recipe.  Scale shape: per-document metrics are embarrassingly
    parallel, so the WHOLE computation is one vectorized Arrow pass
    (``mapInPandas``) with NO shuffle at all — the earlier explode +
    two-stage groupBy formulation shuffled one row per bigram for no
    cross-document reason.  The Arrow pass emits exact integer counts;
    the ratios divide and round JVM-side so rounding semantics match
    the DuckDB oracle bit-for-bit."""
    import re

    import numpy as np
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    prepped = d.select("doc_id", F.lower(F.trim(F.col("text"))).alias("__t"))
    ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s — matches tokens()

    def counts(batches):
        for pdf in batches:
            out = {"doc_id": [], "n_tok": [], "n_distinct": [],
                   "top_c": [], "total_bigrams": []}
            for doc_id, t in zip(pdf["doc_id"], pdf["__t"]):
                toks = ws.split(t) if isinstance(t, str) and t else []
                if len(toks) < 2:
                    continue  # parity with the size(t) >= 2 gate
                arr = np.asarray(toks, dtype=object)
                grams = pd.util.hash_array(arr[:-1]) * np.uint64(
                    1000003
                ) + pd.util.hash_array(arr[1:])
                _, c = np.unique(grams, return_counts=True)
                out["doc_id"].append(doc_id)
                out["n_tok"].append(len(toks))
                out["n_distinct"].append(len(np.unique(arr)))
                out["top_c"].append(int(c.max()))
                out["total_bigrams"].append(len(grams))
            yield pd.DataFrame(out)

    g = prepped.mapInPandas(
        counts,
        schema="doc_id long, n_tok long, n_distinct long, "
        "top_c long, total_bigrams long",
    )
    return g.select(
        "doc_id",
        F.round(F.col("n_distinct").cast("double") / F.col("n_tok"), 6).alias(
            "distinct_ratio"
        ),
        F.round(F.col("top_c").cast("double") / F.col("total_bigrams"), 6).alias(
            "top_bigram_frac"
        ),
    ).select(
        "doc_id",
        "distinct_ratio",
        "top_bigram_frac",
        (
            (F.col("top_bigram_frac") < 0.1) & (F.col("distinct_ratio") > 0.4)
        ).alias("keep"),
    )


@_register(
    "tfidf_top_terms",
    r"""
    WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
              FROM documents)
        GROUP BY doc_id, term
    ),
    df_t AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term,
           round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS score
    FROM tf JOIN df_t USING (term), n
    QUALIFY row_number() OVER (
        PARTITION BY doc_id
        ORDER BY round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) DESC, term ASC
    ) <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (keyword extraction).  One
    explode+shuffle builds term frequencies; document frequency reuses
    that shuffle output and is vocabulary-sized, so it is BROADCAST
    back (no second shuffle of the corpus); the corpus row count is a
    1-row broadcast cross join.  Ranking rounds the score FIRST and
    tie-breaks on the term so row_number is deterministic in both
    engines."""
    from cid_etl_spark.plans.fragments import doc_term_counts

    d = load_table(spark, sf_dir, "documents")
    # per-doc term frequencies via the canonical shared rollup
    # (plans/fragments.py): a run_batch with other lexical queries
    # shares one explode+shuffle; standalone the plan is the same
    # rollup with the (doc_id-dependent) lang key carried
    tf = doc_term_counts(spark, sf_dir).select(
        "doc_id", F.col("tok").alias("term"), F.col("n").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@_register(
    "funnel_events",
    """
    WITH g AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_view,
           CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
               AS n_view_then_click,
           CAST(SUM(CASE WHEN t_click > t_view AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_full_funnel
    FROM g
    """,
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): one
    shuffle keyed by user collapses each user to first-touch times per
    stage, then a single global roll-up counts users whose stage times
    are strictly ordered.  No self-joins (the naive funnel is an
    O(stages) chain of joins on events)."""
    e = load_table(spark, sf_dir, "events")
    stage = lambda s: F.min(F.when(F.col("event_type") == s, F.col("ts")))
    g = e.groupBy("user_id").agg(
        stage("view").alias("t_view"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_purchase"),
    )
    after = lambda a, b: F.col(a) > F.col(b)
    return g.agg(
        count_if(F.col("t_view").isNotNull()).alias("n_view"),
        count_if(after("t_click", "t_view")).alias("n_view_then_click"),
        count_if(
            after("t_click", "t_view") & after("t_purchase", "t_click")
        ).alias("n_full_funnel"),
    )


@_register(
    "fuzzy_match_nations",
    """
    WITH typos AS (
        SELECT n_nationkey AS src_key,
               concat(substr(n_name, 1, 2), substr(n_name, 4)) AS typo
        FROM nation
    )
    SELECT t.typo, n.n_name AS matched,
           CAST(levenshtein(t.typo, n.n_name) AS INT) AS dist
    FROM typos t JOIN nation n
      ON substr(t.typo, 1, 1) = substr(n.n_name, 1, 1)
     AND levenshtein(t.typo, n.n_name) <= 2
    """,
)
def fuzzy_match_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: every nation name with its 3rd character
    dropped is matched back against the clean list by edit distance
    <= 2.  The scale pattern is BLOCKING: the join carries an equi key
    (first character — in production a phonetic/prefix/length block) so
    Spark hash-partitions on the block instead of a full cross product,
    and levenshtein only runs within blocks.  Dirty side here derives
    from the nation table itself so both engines see identical
    deterministic input."""
    n = load_table(spark, sf_dir, "nation")
    typos = n.select(
        F.col("n_nationkey").alias("src_key"),
        F.concat(
            F.substring("n_name", 1, 2), F.expr("substring(n_name, 4)")
        ).alias("typo"),
    )
    clean = n.select("n_name")
    joined = typos.join(
        F.broadcast(clean),
        (F.substring("typo", 1, 1) == F.substring("n_name", 1, 1))
        & (F.levenshtein("typo", "n_name") <= 2),
    )
    return joined.select(
        "typo",
        F.col("n_name").alias("matched"),
        F.levenshtein("typo", "n_name").cast("int").alias("dist"),
    )


@_register(
    "scd_upsert_orders",
    """
    WITH updates AS (
        SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
               o_totalprice + 1.0 AS o_totalprice, 2 AS version
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    merged AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, version
        FROM (
            SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version
            FROM orders
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_totalprice, version
            FROM updates
        )
        QUALIFY row_number() OVER (
            PARTITION BY o_orderkey ORDER BY version DESC
        ) = 1
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def scd_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style latest-wins upsert (SCD type 1): a deterministic
    updates feed (every 10th order re-priced, status 'X') merges over
    the base table by key with the higher version winning — unionByName
    + one row_number window on the key, the standard Spark merge shape
    when the sink isn't a transactional table format.  Post-merge
    status roll-up verifies the winner rows."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit(1).alias("version")
    )
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        F.lit(2).alias("version"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    merged = (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(decimal_sum("o_totalprice")).alias("total_price"),
    )


@_register(
    "bloom_semi_join_lineitem",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS sum_price
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_totalprice > 400000)
    GROUP BY l_returnflag
    """,
)
def bloom_semi_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join (operators.bloom): lineitem rows of
    very-high-value orders.  The key side (~1% of orders) is rendered
    as a ~1.2 byte/key bitmap broadcast into an Arrow-batched probe
    that drops non-matching fact rows BEFORE any shuffle; the exact
    left_semi join after it removes Bloom false positives, so results
    equal the plain semi join the oracle runs.  At 100 TB this is the
    play when the key set outgrows a broadcast hash join but the fact
    scan dominates."""
    from cid_etl_spark.operators.bloom import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    hits = bloom_semi_join(li, keys, "l_orderkey", "o_orderkey")
    return hits.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        money(decimal_sum("l_extendedprice")).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# O. Span dedup / sequence packing / time-series resample / UDTF / sketches
# ---------------------------------------------------------------------------


@_register(
    "span_dedup_documents",
    r"""
    WITH sp AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             array_to_string(toks[(u.i*10+1):(u.i*10+10)], ' ') AS chunk
      FROM sp, unnest(range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))) AS u(i)
    ),
    marked AS (
      SELECT doc_id, pos, chunk,
             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
      FROM chunks
    )
    SELECT doc_id,
           coalesce(array_to_string(list(chunk ORDER BY pos)
                                    FILTER (WHERE rn = 1), ' '), '') AS text_dedup,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_spans_dropped
    FROM marked
    GROUP BY doc_id
    """,
)
def span_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document SPAN dedup (the C4/RefinedWeb repeated-passage
    rule at chunk granularity): split every document into consecutive
    10-token spans, keep only the globally FIRST occurrence of each
    exact span (first = lowest ``(doc_id, pos)``), and reassemble the
    surviving spans per document.

    One wide stage: the span table shuffles once on the span value
    (``row_number`` window), and reassembly groups back on ``doc_id``.
    At 100 TB the span strings should not ride the dedup shuffle —
    hash them (``xxhash64``) for the window key and rejoin survivors
    to positions, the same key-shrinking trade as
    operators.dedup.shingle_index_arrow."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_chunks = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i * F.lit(10) + F.lit(1), 10)),
    )
    ex = d.select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    w = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    marked = ex.withColumn("rn", F.row_number().over(w))
    return marked.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") == 1, F.struct("pos", "chunk"))
                    )
                ),
                lambda x: x["chunk"],
            ),
        ).alias("text_dedup"),
        F.sum((F.col("rn") > 1).cast("int")).cast("bigint").alias("n_spans_dropped"),
    )


@_register(
    "pack_sequences_documents",
    r"""
    WITH t AS (
      SELECT doc_id, lang,
             CASE WHEN length(trim(text)) > 0
                  THEN len(string_split_regex(lower(trim(text)), '\s+'))
                  ELSE 0 END AS n_tok
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM t
    )
    SELECT lang,
           CAST(floor((cum - n_tok) / 512) AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
           min(doc_id) AS first_doc_id
    FROM c
    GROUP BY lang, seq_id
    """,
)
def pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing, concat-and-chunk style: per language,
    documents concatenate in ``doc_id`` order into one virtual token
    stream that is cut into 512-token sequences; each document belongs
    to the sequence containing its first token (``floor(start_offset /
    512)``).  Output is the per-sequence manifest a data loader reads.

    This is the SQL-expressible form of LLM batch packing: a running
    ``SUM`` in ``doc_id`` order per language, then a
    partial-aggregating rollup.  The r5 form ran one
    ``Window.partitionBy("lang")`` sort task per language — at 100 TB
    that is ~corpus/|langs| docs through each of ~5 tasks.  The prefix
    sum now comes from the partitioned ``bucketed_cumsum`` (range
    partition on doc_id within lang + carried-in offsets from a
    |langs|·1024-row rollup) — exactly the scale path the r5 docstring
    promised, with bit-identical output since doc_id is unique."""
    from cid_etl_spark.functions.text import token_count
    from cid_etl_spark.operators.aggregates import bucketed_cumsum

    d = load_table(spark, sf_dir, "documents")
    c = d.select("doc_id", "lang", token_count("text").alias("n_tok"))
    c = bucketed_cumsum(
        c, "doc_id", ("n_tok",), partition_by=("lang",)
    ).withColumnRenamed("cum_n_tok", "cum")
    c = c.withColumn(
        "seq_id", F.floor((F.col("cum") - F.col("n_tok")) / F.lit(512)).cast("bigint")
    )
    return c.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


@_register(
    "resample_gapfill_events",
    r"""
    WITH pm AS (
      SELECT event_type, time_bucket(INTERVAL '15 minutes', ts) AS bucket_ts,
             round(avg(value), 4) AS avg_v
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(bucket_ts) AS t0, max(bucket_ts) AS t1
      FROM pm GROUP BY 1
    ), grid AS (
      SELECT event_type,
             unnest(generate_series(t0, t1, INTERVAL '15 minutes')) AS bucket_ts
      FROM bounds
    ), j AS (
      SELECT g.event_type, g.bucket_ts, pm.avg_v
      FROM grid g LEFT JOIN pm USING (event_type, bucket_ts)
    )
    SELECT event_type, bucket_ts,
           last_value(avg_v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value,
           (avg_v IS NULL) AS is_gap
    FROM j
    """,
)
def resample_gapfill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill (operators.timeseries
    .resample_ffill): average ``value`` into epoch-aligned 15-minute
    buckets per event type, densify to a gap-free grid (``sequence``
    + ``explode`` over one bounds row per key — the fact table is
    never rescanned), and carry the last observed average across empty
    buckets with ``last(ignorenulls)`` over an unbounded-preceding row
    frame.  DuckDB's ``time_bucket``/``generate_series``/``IGNORE
    NULLS`` walk the identical grid."""
    from cid_etl_spark.operators.timeseries import resample_ffill

    ev = load_table(spark, sf_dir, "events")
    return resample_ffill(
        ev, "ts", ["event_type"], "value", bucket_minutes=15, ndigits=4
    )


@_register(
    "flatten_props_udtf",
    r"""
    WITH k AS (
      SELECT event_id, props, unnest(json_keys(props)) AS prop_key FROM events
    )
    SELECT event_id, prop_key,
           json_extract_string(props, '$."' || prop_key || '"') AS prop_value,
    FROM k
    """,
)
def flatten_props_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.9 TABLE-function surface: a native Python UDTF
    (functions.udtfs.FlattenJsonProps) flattens each event's JSON
    ``props`` object into ``(prop_key, prop_value)`` rows via LATERAL
    correlation — the row-expanding shape ``explode()`` can't express
    when the object's keys are unknown at plan time.  The UDTF runs
    partition-parallel in the Python worker; no shuffle is introduced.
    Oracle: DuckDB ``json_keys`` + ``json_extract_string``."""
    from cid_etl_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    ev = load_table(spark, sf_dir, "events")
    ev.select("event_id", "props").createOrReplaceTempView("__props_in")
    return spark.sql(
        "SELECT i.event_id, f.prop_key, f.prop_value "
        "FROM __props_in i, LATERAL flatten_json_props(i.props) f"
    )


@_register(
    "hll_daily_users_events",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS merged_within_5pct,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def hll_daily_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the 100 TB cardinality
    pattern: build one Apache DataSketches HLL per (event_type, day)
    with ``hll_sketch_agg`` (map-side partial, tiny state), then
    ``hll_union_agg`` the daily sketches into a per-type total and
    ``hll_sketch_estimate`` it.  Stored daily sketches make any date
    range answerable by merging k tiny binaries instead of rescanning
    the fact table.

    The estimate is engine-specific (DuckDB's HLL differs), so the
    oracle checks the MERGE contract: the Spark side also computes the
    exact per-type distinct count and emits a boolean asserting the
    merged-sketch estimate lands within 5% of it; the SQL twin
    recomputes the exact side and expects TRUE.  A sketch that fails
    to merge daily partials (the actual failure mode this guards)
    undercounts far beyond 5% and flips the boolean."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("__approx"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("__approx") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("merged_within_5pct"),
        "n_days",
        "n_events",
    )


@_register(
    "small_quantity_revenue",
    r"""
    SELECT l.l_partkey AS partkey,
           CAST(count(*) AS BIGINT) AS n_small,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS small_revenue
    FROM lineitem l
    WHERE l.l_quantity < (
      SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY l.l_partkey
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated SCALAR subquery (each lineitem
    compared against its part's average quantity).  Written as SQL on
    purpose — Catalyst's DecorrelateInnerQuery rewrites the correlated
    aggregate into ONE self-aggregation of lineitem on l_partkey plus
    an equi-join, so the fact table scans twice and shuffles on the
    same key both times (AQE can co-locate them); the naive
    per-row re-scan the SQL literally describes never executes.
    l_quantity is integral, so both engines' AVG is an exact
    double (order-insensitive) and the boundary predicate is
    deterministic."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("__li_q17")
    return spark.sql(
        """
        SELECT l.l_partkey AS partkey,
               CAST(count(*) AS BIGINT) AS n_small,
               round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS small_revenue
        FROM __li_q17 l
        WHERE l.l_quantity < (
          SELECT 0.5 * avg(l2.l_quantity) FROM __li_q17 l2
          WHERE l2.l_partkey = l.l_partkey
        )
        GROUP BY l.l_partkey
        """
    )


@_register(
    "value_trend_events",
    r"""
    SELECT event_type,
           round(regr_slope(value, epoch(ts)), 8) AS slope,
           round(regr_intercept(value, epoch(ts)), 4) AS intercept,
           round(regr_r2(value, epoch(ts)), 6) AS r2,
           CAST(regr_count(value, epoch(ts)) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def value_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linear trend via the built-in regression aggregates
    (regr_slope/intercept/r2/count) — drift detection over a metric
    stream as one partial-aggregating hash aggregate: each task folds
    its rows into the five regression moments, one shuffle on the
    3-byte key merges them.  The x value is the epoch timestamp as
    DOUBLE (microsecond fraction preserved) to match DuckDB's
    ``epoch()``; results round well inside double headroom for the
    cross-engine hash compare."""
    ev = load_table(spark, sf_dir, "events")
    # TIMESTAMP_NTZ has no direct numeric cast in Spark 4; route through
    # timestamp_ltz (session TZ pinned to UTC) so epoch matches DuckDB.
    x = F.col("ts").cast("timestamp_ltz").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.regr_slope(F.col("value"), x), 8).alias("slope"),
        F.round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
        F.regr_count(F.col("value"), x).cast("bigint").alias("n"),
    )


@_register(
    "scd2_priority_history",
    r"""
    WITH o AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_p
      FROM orders
    ), ch AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM o WHERE prev_p IS NULL OR prev_p <> o_orderpriority
    )
    SELECT o_custkey AS custkey,
           o_orderpriority AS priority,
           CAST(o_orderdate AS VARCHAR) AS valid_from,
           CAST(lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS VARCHAR)
             AS valid_to,
           (lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL)
             AS is_current
    FROM ch
    """,
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 history build (the CDC companion to
    ``scd_upsert_orders``'s type-1 latest-wins): collapse each
    customer's order-priority timeline into change rows with
    ``[valid_from, valid_to)`` validity and an ``is_current`` flag.
    Two window passes (change detection via ``lag``, interval close
    via ``lead``) over the SAME partition key sort — Catalyst plans
    ONE shuffle+sort on ``o_custkey`` and reuses it for both windows.
    Dates render as strings (driver-compare convention: DuckDB DATE →
    pandas Timestamp would hash-mismatch Spark's datetime.date)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ch = (
        o.withColumn("prev_p", F.lag("o_orderpriority").over(w))
        .filter(
            F.col("prev_p").isNull()
            | (F.col("prev_p") != F.col("o_orderpriority"))
        )
        .drop("prev_p")
    )
    nxt = F.lead("o_orderdate").over(w)
    return ch.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("string").alias("valid_from"),
        nxt.cast("string").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@_register(
    "dedup_clusters_star",
    f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
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
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id
    FROM cc
    GROUP BY node
    """,
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering contract as ``dedup_clusters_documents`` but
    resolved with alternating large-star/small-star contraction
    (operators.graph.connected_components_star) instead of min-label
    propagation: O(log² n) rounds regardless of component diameter —
    the 100 TB path when shingle chains link dups into long paths.
    Identical recursive-CTE oracle; both must produce the same
    min-id-per-component labeling."""
    from cid_etl_spark.operators.graph import connected_components_star

    pairs = ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    cc = connected_components_star(pairs, "id_a", "id_b")
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@_register(
    "variant_props_stats",
    r"""
    SELECT event_type,
           CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k,
           CAST(count(json_extract_string(props, '$.k')) AS BIGINT) AS n_with_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): ``parse_json`` ingests
    each event's props into the binary VARIANT encoding once, then
    typed reads (``try_variant_get``) feed a plain aggregate.  VARIANT
    is the at-scale answer for schema-on-read JSON columns: parse cost
    is paid once at ingest (in practice at the parquet sink), reads are
    binary field lookups instead of per-query string re-parsing
    (``get_json_object``), and malformed documents degrade to NULL via
    the ``try_`` form instead of failing the job."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json(F.col("props")).alias("v"))
    k = F.try_variant_get(F.col("v"), "$.k", "int")
    return v.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.count("k").cast("bigint").alias("n_with_k"),
        F.round(F.avg("k"), 6).alias("avg_k"),
    )


@_register(
    "window_sliding_events",
    r"""
    WITH starts AS (
      SELECT event_type, value,
             unnest([time_bucket(INTERVAL '1 hour', ts),
                     time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour'])
               AS win_start
      FROM events
    )
    SELECT event_type, win_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(value), 6) AS avg_value
    FROM starts GROUP BY event_type, win_start
    """,
)
def window_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING event-time windows (2h length, 1h hop): each event lands
    in exactly two overlapping windows; ``F.window`` replicates rows
    window-side BEFORE the aggregate, so partial aggregation still
    combines map-side and the shuffle carries (type, win) partials —
    overlap factor × agg state, never overlap × raw events.  The
    oracle enumerates the same two epoch-aligned starts per event.
    The streaming twin is the same expression under ``readStream`` +
    watermark (streaming/events.py)."""
    ev = load_table(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "2 hours", "1 hour")
    return ev.groupBy("event_type", w.start.alias("win_start")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


@_register(
    "unpivot_order_metrics",
    r"""
    WITH agg AS (
      SELECT o_orderpriority,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_price,
             CAST(count(*) AS DOUBLE) AS n_orders,
             round(avg(o_totalprice), 2) AS avg_price
      FROM orders GROUP BY o_orderpriority
    )
    UNPIVOT agg ON total_price, n_orders, avg_price
    INTO NAME metric VALUE value
    """,
)
def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse of ``pivot_status_by_priority``:
    a wide per-priority metrics row melts into ``(priority, metric,
    value)`` tall form (the shape metric stores and chart layers eat).
    ``DataFrame.unpivot`` is a zero-shuffle narrow op — each wide row
    expands in place; the only shuffle here is the upstream aggregate.
    Decimal-exact money sum, then one final round, per the money
    conventions (operators.aggregates)."""
    from cid_etl_spark.operators.aggregates import decimal_sum

    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.round(decimal_sum(F.col("o_totalprice")), 2).alias("total_price"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )
    return agg.unpivot(
        ids=["o_orderpriority"],
        values=["total_price", "n_orders", "avg_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@_register(
    "holdout_split_documents",
    r"""
    WITH t AS (
      SELECT lang,
             CASE
               WHEN md5(CAST(doc_id AS VARCHAR)) < '1999999999999999999999999999999999'
                 THEN 'val'
               WHEN md5(CAST(doc_id AS VARCHAR)) < '3333333333333333333333333333333333'
                 THEN 'test'
               ELSE 'train'
             END AS split
      FROM documents
    )
    SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
    FROM t GROUP BY lang, split
    """,
)
def holdout_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test holdout assignment: the split is a
    pure function of ``md5(doc_id)`` — stable under reruns, re-shards,
    and corpus growth (a document never migrates between splits), with
    no shuffle to assign (the only shuffle is the reporting rollup).
    Hex-threshold bucketing ≈ 10%/10%/80%; the same idiom as
    ``stratified_sample_documents`` and ``corpus_mixture_sample``, here
    producing named splits for eval hygiene."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    split = (
        F.when(h < "1999999999999999999999999999999999", "val")
        .when(h < "3333333333333333333333333333333333", "test")
        .otherwise("train")
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


@_register(
    "length_buckets_documents",
    r"""
    WITH t AS (
      SELECT CASE WHEN length(trim(text)) > 0
                  THEN len(string_split_regex(lower(trim(text)), '\s+'))
                  ELSE 0 END AS n_tok
      FROM documents
    )
    SELECT CAST(CASE WHEN n_tok <= 0 THEN 0
                ELSE CAST(floor(log2(n_tok)) AS BIGINT) + 1 END AS BIGINT)
             AS bucket,
           CAST(power(2, CASE WHEN n_tok <= 0 THEN 0
                ELSE CAST(floor(log2(n_tok)) AS BIGINT) END) AS BIGINT)
             AS bucket_min_tokens,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM t GROUP BY 1, 2
    """,
)
def length_buckets_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram — the batching planner's
    input: padding waste in a batch is bounded by the bucket ratio, so
    loaders group documents by ⌊log₂(tokens)⌋.  Pure map-side
    expression + one tiny rollup.  Integer-valued log₂ boundaries
    (exact powers of two) land identically in both engines because
    ``n_tok`` is integral and ``log2`` is exact on powers of two."""
    d = load_table(spark, sf_dir, "documents")
    n = token_count("text")
    b = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor(F.log2(n.cast("double"))).cast("bigint") + 1
    )
    bmin = F.pow(
        F.lit(2.0),
        F.when(n <= 0, F.lit(0)).otherwise(
            F.floor(F.log2(n.cast("double"))).cast("bigint")
        ).cast("double"),
    ).cast("bigint")
    return (
        d.select(b.alias("bucket"), bmin.alias("bucket_min_tokens"), n.alias("n_tok"))
        .groupBy("bucket", "bucket_min_tokens")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


@_register(
    "approx_percentile_lineitem",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS p50_rank_ok,
           TRUE AS p90_rank_ok,
           TRUE AS p99_rank_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def approx_percentile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group percentiles (``percentile_approx``,
    Greenwald-Khanna sketch): the mergeable-sketch companion to the
    exact ``percentile_stats_lineitem`` — partials combine map-side in
    O(1/accuracy) space, so the shuffle carries sketches, not values.

    The estimates are engine-specific, so the oracle checks the GK
    GUARANTEE instead: for each group the Spark side re-ranks its own
    estimate against the data (share of values <= estimate) and emits
    a boolean asserting the rank error is within 0.5% of the target
    quantile — 50x the sketch's 1/accuracy bound, so only a genuinely
    broken sketch flips it.  The SQL twin expects TRUE across the
    board plus the exact group counts."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    acc = F.lit(10000)
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", F.lit(0.5), acc).alias("p50"),
        F.percentile_approx("l_extendedprice", F.lit(0.9), acc).alias("p90"),
        F.percentile_approx("l_extendedprice", F.lit(0.99), acc).alias("p99"),
    )
    ranked = li.join(F.broadcast(approx), "l_returnflag").groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            (
                F.sum(
                    F.when(F.col("l_extendedprice") <= F.col(p), 1).otherwise(0)
                )
                / F.count(F.lit(1))
            ).alias(f"__rank_{p}")
            for p in ("p50", "p90", "p99")
        ],
    )
    eps = 0.005
    return ranked.select(
        "l_returnflag",
        "n",
        # estimate's realized rank must straddle the target quantile
        # within eps (>= q - eps by GK; <= q + eps + 1/n for ties)
        (F.abs(F.col("__rank_p50") - 0.5) <= eps + 1 / F.col("n")).alias("p50_rank_ok"),
        (F.abs(F.col("__rank_p90") - 0.9) <= eps + 1 / F.col("n")).alias("p90_rank_ok"),
        (F.abs(F.col("__rank_p99") - 0.99) <= eps + 1 / F.col("n")).alias("p99_rank_ok"),
    )


# ---------------------------------------------------------------------------
# R. Decorrelated subqueries, distribution windows, heavy hitters, islands
#    (round-1 widening: classic warehouse shapes any engine replacing the
#    reference must run; each stays one-or-two-shuffle at 100 TB)
# ---------------------------------------------------------------------------


@_register(
    "exists_late_orders",
    """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o.o_orderpriority
    """,
)
def exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — correlated EXISTS decorrelated to a LEFT SEMI
    join on the order key with the ship-after-order predicate folded
    into the join condition.  One shuffle on l_orderkey/o_orderkey
    (both sides partial-aggregate nothing — semi join short-circuits on
    first match per key), then a map-side partial count on the 5-value
    priority key.  At 100 TB the semi join is the only wide edge and
    AQE can pick broadcast if the filtered orders side shrinks."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


@_register(
    "loyal_customers_by_nation",
    """
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      )
    GROUP BY n.n_name
    """,
)
def loyal_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT EXISTS over the same fact (TPC-H Q21 family):
    LEFT SEMI then LEFT ANTI on o_custkey.  Both probes reuse the same
    orders scan; the nation dim rides in as a broadcast at the end so
    the wide edges stay keyed on the customer.  The anti side prunes to
    only 'F' rows before the join — at scale that filter reaches the
    parquet scan and the anti build is a fraction of the fact."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    any_order = o.select("o_custkey")
    f_order = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    kept = (
        c.join(any_order, c.c_custkey == any_order.o_custkey, "left_semi")
        .join(f_order, c.c_custkey == f_order.o_custkey, "left_anti")
    )
    return (
        kept.join(F.broadcast(n), kept.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


@_register(
    "heavy_hitters_parts",
    """
    WITH counts AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem GROUP BY l_partkey
    ), thr AS (
        SELECT avg(n_lines) + 2 * stddev_samp(n_lines) AS cut FROM counts
    )
    SELECT c.l_partkey, c.n_lines
    FROM counts c, thr t
    WHERE c.n_lines > t.cut
    """,
)
def heavy_hitters_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (keys > mean + 2 sigma of per-key frequency):
    the skew-detection primer for salting decisions.  Stage 1 is a
    map-side partial count per l_partkey (one shuffle, key-sized);
    stage 2 folds the per-key counts to a single (mean, stddev) row
    that broadcasts back over the counts as a nested-loop filter —
    no second wide shuffle, the threshold is one row.  The same plan
    at 100 TB emits the salting candidate list for salted_agg."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    thr = counts.agg(
        (F.avg("n_lines") + 2 * F.stddev_samp("n_lines")).alias("cut")
    )
    return (
        counts.join(F.broadcast(thr))
        .filter(F.col("n_lines") > F.col("cut"))
        .select("l_partkey", "n_lines")
    )


@_register(
    "window_distribution_suite",
    """
    WITH c AS (
        SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS bal
        FROM customer
    )
    SELECT c_custkey, c_mktsegment, bal,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM c
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY bal, c_custkey)
    """,
)
def window_distribution_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window family (percent_rank / cume_dist / ntile)
    sharing ONE window spec: a single hash shuffle on the segment key
    plus one per-partition sort serves all three functions.  Ordering
    is made total (rounded balance, then unique custkey) so ntile's
    bucket boundaries are deterministic across engines."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("bal")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("bal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "bal",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@_register(
    "listagg_nations",
    """
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(count(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list is unordered in a
    distributed engine, so determinism comes from array_sort before
    array_join — never from input order.  Dim-sized here; the same
    sort-inside-the-group pattern is what keeps LISTAGG stable when
    the group spans many upstream partitions at scale."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        )
    )


@_register(
    "activity_streaks_events",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), seq AS (
        SELECT user_id, d,
               CAST(d - DATE '1970-01-01' AS BIGINT)
                 - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
        FROM days
    ), islands AS (
        SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        FROM seq GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak
    FROM islands
    GROUP BY user_id
    """,
)
def activity_streaks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (consecutive-active-day streaks per user) via
    the day-index-minus-row-number trick.  After the distinct's shuffle
    lands rows by (user_id, d), the row_number window re-clusters on
    user_id, and BOTH downstream groupBys — (user_id, grp) and
    (user_id) — are satisfied by that same hash partitioning, so the
    whole island pipeline runs with no further exchanges."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    seq = days.select(
        "user_id",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).cast("bigint")
            - F.row_number().over(w)
        ).alias("grp"),
    )
    islands = seq.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak"),
    )


@_register(
    "zscore_outliers_events",
    """
    WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN abs((e.value - s.mu) / s.sigma) > 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e
    JOIN stats s ON e.event_type = s.event_type
    GROUP BY e.event_type
    """,
)
def zscore_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass z-score outlier census: pass 1 folds each group to
    (mu, sigma) — group-count rows, broadcast back; pass 2 re-scans and
    counts |z| > 2 per group map-side.  The broadcast join keeps the
    second pass shuffle-free on the fact; only the tiny final rollup
    moves.  This is the distributed form of 'normalize then filter' —
    never a window over the whole fact, which would sort 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    is_out = F.abs((F.col("value") - F.col("mu")) / F.col("sigma")) > 2
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
    )


@_register(
    "corpus_composition_report",
    r"""
    WITH t AS (
        SELECT source, lang,
               CASE WHEN length(trim(text)) > 0
                    THEN len(string_split_regex(lower(trim(text)), '\s+'))
                    ELSE 0 END AS n_tok
        FROM documents
    ), g AS (
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM t GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE)
                 / sum(n_tokens) OVER (), 6) AS token_share
    FROM g
    """,
)
def corpus_composition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture report (source x lang token shares) — the input
    to mixture-weight planning (corpus_mixture_sample).  Token counting
    is map-side; one shuffle to the (source, lang) rollup; the global
    total is an empty-frame window over the GROUP-COUNT-sized result,
    not over the fact — at 100 TB the window sees hundreds of rows."""
    d = load_table(spark, sf_dir, "documents")
    g = d.select("source", "lang", token_count("text").alias("n_tok")).groupBy(
        "source", "lang"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return g.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w), 6
        ).alias("token_share"),
    )


@_register(
    "bucketed_range_join_quantity",
    """
    WITH bands AS (
        SELECT CAST(k AS BIGINT) AS band_id,
               CAST(k * 5 + 1 AS DOUBLE) AS lo,
               CAST(k * 5 + 5 AS DOUBLE) AS hi
        FROM range(0, 10) t(k)
    )
    SELECT b.band_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN bands b ON l.l_quantity >= b.lo AND l.l_quantity <= b.hi
    GROUP BY b.band_id
    """,
)
def bucketed_range_join_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join on the FACT side via bucketing
    (operators.joins.range_join_bucketed): quantity bands become an
    equi join on floor(value/width) + a residual BETWEEN — a
    BroadcastHashJoin here, a shuffle-hash join when the interval table
    outgrows broadcast.  The contrast case to range_join_acctbal_bands'
    BroadcastNestedLoopJoin: this shape survives a big-big interval
    join at 100 TB where a nested loop cannot.  Bucket width 8 is
    deliberately misaligned with the width-5 bands to exercise
    interval replication across bucket boundaries."""
    from cid_etl_spark.operators.joins import range_join_bucketed

    li = load_table(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    bands = spark.range(0, 10).select(
        F.col("id").cast("bigint").alias("band_id"),
        (F.col("id") * 5 + 1).cast("double").alias("lo"),
        (F.col("id") * 5 + 5).cast("double").alias("hi"),
    )
    joined = range_join_bucketed(li, "l_quantity", bands, "lo", "hi", bucket_width=8.0)
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        money(decimal_sum("l_extendedprice")).alias("revenue"),
    )


@_register(
    "domain_quota_sample",
    """
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT doc_id, source, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 10
    """,
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota cap (keep at most K docs per source) — the
    anti-domination guard in corpus curation: without it one crawl
    domain can own the training mix.  Deterministic across engines and
    runs because the rank orders by a content-independent hash of the
    stable key, never by input order.  One hash shuffle on source."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).cast("int").alias("rn"))
        .filter(F.col("rn") <= 10)
    )


@_register(
    "chunk_documents_sliding",
    r"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) > 0
                    THEN string_split_regex(lower(trim(text)), '\s+')
                    ELSE CAST([] AS VARCHAR[]) END AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, toks,
               unnest(range(1, len(toks) + 1, 24)) AS chunk_start
        FROM t
    )
    SELECT doc_id,
           CAST(chunk_start AS INT) AS chunk_start,
           array_to_string(toks[chunk_start : chunk_start + 31], ' ') AS chunk_text,
           CAST(least(32, len(toks) - chunk_start + 1) AS INT) AS n_tok
    FROM s
    """,
)
def chunk_documents_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token windows, stride 24 —
    8-token overlap): the context-window shaping step before training
    or embedding.  Pure narrow plan: tokenize, generate start offsets
    with ``sequence``, explode, slice — no shuffle at all; at 100 TB
    every task chunks its own partition and the 4/3 row inflation
    streams straight to the sink."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    starts = F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(0)), F.lit(24))
    t = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    s = t.select("doc_id", "toks", F.explode(starts).alias("chunk_start"))
    return s.select(
        "doc_id",
        F.col("chunk_start").cast("int"),
        F.array_join(F.slice("toks", F.col("chunk_start"), 32), " ").alias(
            "chunk_text"
        ),
        F.least(F.lit(32), F.size("toks") - F.col("chunk_start") + 1)
        .cast("int")
        .alias("n_tok"),
    )


@_register(
    "normalize_text_suite",
    r"""
    WITH c AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
                   '\s+', ' ', 'g')) AS clean_text,
               text AS orig
        FROM documents
    )
    SELECT doc_id,
           clean_text,
           CAST(length(orig) - length(clean_text) AS BIGINT) AS n_removed,
           CASE WHEN clean_text <> orig THEN true ELSE false END AS changed
    FROM c
    """,
)
def normalize_text_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text cleaning pass (strip control characters, collapse runs of
    whitespace, trim) — the first stage of every web-corpus pipeline.
    All codegen string expressions, zero shuffle, and the cleaned
    column feeds dedup/fingerprinting downstream so the SAME bytes hash
    identically regardless of upstream whitespace formatting."""
    d = load_table(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"[\x00-\x1f\x7f]", " "), r"\s+", " "
        )
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        (F.length("text") - F.length(clean)).cast("bigint").alias("n_removed"),
        (clean != F.col("text")).alias("changed"),
    )


