"""The co-purchase graph family: basket pairs, census, centrality,
communities, cores, link prediction and itemset mining over one input,
the part co-purchase graph of the orders (the reference's single-key
dedup, etl_cid10.py:183-184, extended to graphs).  Each shared fact is
stated once for both engines: the basket (:func:`basket_items` /
:data:`_ITEMS_CTE`), the support-≥:data:`MIN_SUPPORT` edge list u < v
(:func:`_copurchase_edges` / ``e0`` of :data:`_GRAPH_CTES`, next to
its symmetrized ``adj``), and each algorithm's parameters (the module
constants, read by the builder AND by its twin's SQL generator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cid_etl_spark.operators.graph import (
    _symmetrize,
    bfs_distances,
    kcore_peel,
    label_propagation,
    pagerank,
    triangle_count,
)
from cid_etl_spark.queries._registry import _register
from cid_etl_spark.sources.parquet import load_table

#: Edge threshold of the co-purchase graph: a part pair is an edge when
#: at least this many orders contain both — prunes single-co-occurrence
#: noise the way phrase-mining pipelines do.  Also the apriori pair AND
#: triple threshold (downward closure needs the two to be equal) and
#: the association-rule pair support.
MIN_SUPPORT = 2
#: Parameters of the fixed-round algorithms: each builder passes them to
#: its operators.graph operator, and its twin unrolls the same rounds.
LPA_ROUNDS = 4
BFS_ROUNDS = 4
KCORE_K = 3
KCORE_ROUNDS = 4
PAGERANK_DAMPING = 0.85
PAGERANK_ITERATIONS = 10

#: The basket in the DuckDB twins.
_ITEMS_CTE = "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)"

#: The support-thresholded edge list ``e0(u, v)``, u < v, and its
#: symmetrized adjacency ``adj(u, v)`` (both directions) in the twins.
_GRAPH_CTES = f"""{_ITEMS_CTE},
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
),
adj AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0)"""


def basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct ``(l_orderkey, l_partkey)`` basket set.  Partitioned
    by the basket key alone: hash(orderkey) clusters the distinct AND
    both sides of any basket-keyed self-join, so a whole pairing
    pipeline reuses one exchange.  Callers that consume it several
    times checkpoint it themselves."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_partkey").repartition("l_orderkey").distinct()


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-thresholded co-purchase edge list (u=src < v=dst), the
    shared input of the graph queries: one basket-keyed self-join (pair
    blowup bounded by basket², same plan as copurchase_part_pairs) + a
    :data:`MIN_SUPPORT` filter."""
    items = basket_items(spark, sf_dir)
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("__support"))
        .filter(F.col("__support") >= MIN_SUPPORT)
        .drop("__support")
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence
# ---------------------------------------------------------------------------


@_register(
    "copurchase_part_pairs",
    f"""
    {_ITEMS_CTE}
    SELECT a.l_partkey AS part_a,
           b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM items a
    JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 50
    """,
)
def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: parts bought together, ranked.
    The self-join is keyed on the ORDER (basket), so pair explosion is
    bounded by basket size squared — never corpus squared; the distinct
    collapses repeat lines first so a 100-line order of one part costs
    one row.  One shuffle lands both join sides AND feeds the pair
    count; the top-50 edge is a TakeOrderedAndProject heap with full
    tiebreak.  The same plan at 100 TB is the co-occurrence step of
    recommendation and phrase-mining pipelines."""
    items = basket_items(spark, sf_dir)
    a, b = items.alias("a"), items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Graph census, communities, distances, cores, assortativity
# ---------------------------------------------------------------------------

_TRIANGLE_SQL = f"""
    {_GRAPH_CTES},
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS t
      FROM e0 ab
      JOIN e0 bc ON ab.v = bc.u
      JOIN e0 ac ON ac.u = ab.u AND ac.v = bc.v
    ), w AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1)) AS BIGINT) // 2 AS n_wedges
      FROM deg
    )
    SELECT w.n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
           w.n_wedges,
           tri.t AS n_triangles,
           round(3.0 * tri.t / w.n_wedges, 6) AS clustering
    FROM w, tri
    """


@_register("triangle_census_copurchase", _TRIANGLE_SQL)
def triangle_census_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census + global clustering coefficient of the
    support-≥2 co-purchase graph (operators.graph.triangle_count).
    The engine uses degree-oriented wedge joins — every edge points
    from its lower-(degree, id) endpoint, capping out-degrees at O(√m)
    so hub skew cannot blow the wedge join up to degree² rows (the
    failure mode of naive closure counting on retail/web graphs); the
    oracle counts the same triangles with the quadratic three-way
    self-join.  Support ≥ 2 prunes single-co-occurrence noise edges
    the same way phrase-mining pipelines do."""
    edges = _copurchase_edges(spark, sf_dir)
    return triangle_count(edges, "src", "dst")


def _lpa_sql() -> str:
    """Unrolled DuckDB twin of the fixed-round synchronous LPA — every
    round is one join + vote count + QUALIFY argmax, mirroring
    operators.graph.label_propagation exactly (same deterministic
    count-desc/label-asc tie-break)."""
    steps = []
    prev = "l0"
    for r in range(1, LPA_ROUNDS + 1):
        steps.append(f"""
    v{r} AS (
      SELECT a.v AS node, l.label, CAST(count(*) AS BIGINT) AS cnt
      FROM adj a JOIN {prev} l ON a.u = l.node
      GROUP BY a.v, l.label
    ),
    l{r} AS (
      SELECT node, label FROM v{r}
      QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1
    )""")
        prev = f"l{r}"
    return f"""
    {_GRAPH_CTES},
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM adj),{",".join(steps)}
    SELECT node, label AS community FROM {prev}
    """


@_register("lpa_communities_copurchase", _lpa_sql())
def lpa_communities_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the support-≥2 co-purchase graph via
    fixed-round synchronous label propagation
    (operators.graph.label_propagation): every node adopts its
    neighbors' majority label each round, ties to the smallest label —
    a deterministic variant of LPA whose result is a pure function of
    the graph, which is what lets DuckDB replay all four rounds
    symbolically (the usual async/random-tie LPA is unverifiable by
    construction).  Complements the census suite: connected components
    give reachability, PageRank gives centrality, LPA gives mesoscale
    structure — same per-round cost model as both (one keyed shuffle,
    label table broadcast when it fits, lineage checkpoint-truncated)."""
    edges = _copurchase_edges(spark, sf_dir)
    return label_propagation(edges, "src", "dst", rounds=LPA_ROUNDS)


def _bfs_sql() -> str:
    """Unrolled DuckDB twin of fixed-round BFS relaxation."""
    steps = []
    prev = "d0"
    for r in range(1, BFS_ROUNDS + 1):
        steps.append(f"""
    d{r} AS (
      SELECT node, CAST(min(dist) AS INTEGER) AS dist FROM (
        SELECT a.v AS node, d.dist + 1 AS dist
        FROM adj a JOIN {prev} d ON a.u = d.node
        UNION ALL
        SELECT node, dist FROM {prev}
      ) GROUP BY node
    )""")
        prev = f"d{r}"
    return f"""
    {_GRAPH_CTES},
    d0 AS (SELECT min(u) AS node, CAST(0 AS INTEGER) AS dist FROM adj),{",".join(steps)}
    SELECT node, dist FROM {prev}
    """


@_register("bfs_distances_copurchase", _bfs_sql())
def bfs_distances_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted shortest-path distances (4-hop horizon) from the
    smallest part in the support-≥2 co-purchase graph
    (operators.graph.bfs_distances) — 'what can a recommendation reach
    in k hops'.  Fixed-round synchronous relaxation keeps the result a
    pure function of the graph so the oracle unrolls every round; each
    round is one keyed shuffle with map-side partial min, the same
    cost model as CC/PageRank/LPA.  Nodes beyond the horizon are
    absent rather than carrying an infinity sentinel."""
    # Materialize the basket self-join ONCE (r14, guide §2.4): the
    # seed aggregate and the operator's adjacency checkpoint are two
    # independent consumers — left lazy, each re-ran the derivation
    # (and the r13 union-based symmetrize inside the operator made it
    # three runs total).
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    seed = (
        edges.select(F.least("src", "dst").alias("n"))
        .agg(F.min("n").alias("node"))
    )
    return bfs_distances(edges, seed, "src", "dst", rounds=BFS_ROUNDS)


def _kcore_sql() -> str:
    """Unrolled DuckDB twin of fixed-round k-core peeling."""
    steps = []
    prev = "adj"
    for r in range(1, KCORE_ROUNDS + 1):
        steps.append(f"""
    keep{r} AS (
      SELECT u FROM {prev} GROUP BY u HAVING count(*) >= {KCORE_K}
    ),
    adj{r} AS (
      SELECT a.u, a.v FROM {prev} a
      JOIN keep{r} x ON a.u = x.u
      JOIN keep{r} y ON a.v = y.u
    )""")
        prev = f"adj{r}"
    return f"""
    {_GRAPH_CTES},{",".join(steps)}
    SELECT u AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM {prev} GROUP BY u
    """


@_register("kcore_copurchase", _kcore_sql())
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the support-≥2 co-purchase graph via fixed-round
    peeling (operators.graph.kcore_peel): the dense backbone that
    survives after fringe parts (degree < 3, recursively) peel away —
    the spam/hub-discovery primitive that complements the census
    suite (CC = reachability, PageRank = centrality, LPA = mesoscale,
    triangles = local density, k-core = global density backbone).
    Fixed rounds keep it a pure function of the graph; the oracle
    replays every peel round."""
    edges = _copurchase_edges(spark, sf_dir)
    return kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS)


_ASSORTATIVITY_SQL = f"""
    {_GRAPH_CTES},
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u)
    SELECT CAST(count(*) AS BIGINT) AS n_directed_edges,
           round(avg(du.d), 6) AS mean_src_degree,
           round(corr(du.d, dv.d), 4) AS assortativity
    FROM adj
    JOIN deg du ON adj.u = du.node
    JOIN deg dv ON adj.v = dv.node
    """


@_register("degree_assortativity_copurchase", _ASSORTATIVITY_SQL)
def degree_assortativity_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Pearson correlation of endpoint degrees
    over the symmetrized edge list): one number that says whether hubs
    attach to hubs (assortative, >0 — social graphs) or to the fringe
    (disassortative, <0 — retail/web graphs), which decides whether
    hub-skew mitigation (salting, degree orientation) is worth
    wiring into downstream joins.  Degree table joins back onto the
    edge list twice — both sides broadcast when they fit — and the
    correlation is one partial-aggregable pass.

    r14 (guide §2.4): the basket self-join is checkpointed once and
    symmetrized in one explode pass — the r13 shape re-derived it FOUR
    times in one job (two union branches × two adj consumers: the
    degree build and the correlation join)."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    adj = _symmetrize(edges, "src", "dst").select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    deg = adj.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    du = deg.select(F.col("node").alias("src"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("dst"), F.col("d").alias("dv"))
    return (
        adj.join(F.broadcast(du), "src")
        .join(F.broadcast(dv), "dst")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_directed_edges"),
            F.round(F.avg("du"), 6).alias("mean_src_degree"),
            F.round(F.corr("du", "dv"), 4).alias("assortativity"),
        )
    )


# ---------------------------------------------------------------------------
# PageRank (centrality)
# ---------------------------------------------------------------------------


def _pagerank_sql() -> str:
    """DuckDB twin of the fixed-iteration PageRank: the recurrence is
    unrolled symbolically (pr0..prK as chained CTEs — recursive CTEs
    forbid aggregation in the recursive term), with the identical
    ``(1-d)/N + d * Σ rank/deg`` arithmetic per round.  Its graph is
    every co-purchased pair in both directions (support ≥ 1)."""
    d = PAGERANK_DAMPING
    rounds = []
    for k in range(1, PAGERANK_ITERATIONS + 1):
        rounds.append(
            f"""pr{k} AS (
      SELECT nd.node,
             (1 - {d}) / (SELECT c FROM n)
               + {d} * coalesce(s.v, 0.0) AS rank
      FROM nodes nd LEFT JOIN (
          SELECT e.dst AS node, sum(p.rank / deg.d) AS v
          FROM links e
          JOIN pr{k - 1} p ON e.src = p.node
          JOIN deg ON deg.src = e.src
          GROUP BY e.dst
      ) s USING (node)
    )"""
        )
    chain = ",\n    ".join(rounds)
    return f"""
    {_ITEMS_CTE},
    links AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM links GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM links),
    n AS (SELECT count(*) AS c FROM nodes),
    pr0 AS (SELECT node, 1.0 / (SELECT c FROM n) AS rank FROM nodes),
    {chain}
    SELECT node AS l_partkey, round(rank, 6) AS pagerank
    FROM pr{PAGERANK_ITERATIONS}
    """


@_register("pagerank_copurchase", _pagerank_sql())
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts linked when they
    share an order) — the iterative-algorithm family beyond connected
    components: operators.graph.pagerank runs 10 fixed join+aggregate
    rounds, one shuffle per round, degrees and edges materialized once.
    The co-purchase graph is symmetric (both directions of every pair
    are emitted), which is what operators.graph.pagerank requires: the
    node set is the distinct sources (exactly the oracle's ``SELECT
    DISTINCT src``) and no per-round zero-fill join is needed (r13;
    verified value-identical at sf0.1 and re-oracled).  The DuckDB twin
    unrolls the same 10 rounds symbolically; ranks are rounded to 6
    digits on both sides after the final round only."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    a, b = basket.alias("a"), basket.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    ranks = pagerank(
        edges, damping=PAGERANK_DAMPING, iterations=PAGERANK_ITERATIONS
    )
    return ranks.select(
        F.col("node").alias("l_partkey"), F.round("rank", 6).alias("pagerank")
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction on the co-purchase graph
# ---------------------------------------------------------------------------

#: Common neighbors with degree above this never vote: a hub shared by
#: everyone carries ~no signal (1/ln(deg) -> 0) yet costs deg^2 pairs —
#: the standard AA degree cap bounds the per-node pair blowup so the
#: worst task is CAP^2 pairs regardless of corpus size.
_AA_DEGREE_CAP = 256
_AA_TOP_K = 100
#: Target pair-generations per task for the center-node self-join —
#: the stage repartitions to sum(min(d,cap)^2) / this (round 12, from
#: the sf1 guard violation: a denser graph needs width, not a cap).
_AA_PAIRS_PER_TASK = 4_000_000

_ADAMIC_ADAR_SQL = f"""
{_GRAPH_CTES},
deg AS (SELECT u AS node, count(*) AS degree FROM adj GROUP BY u),
mid AS (
  SELECT a.u AS node, a.v AS nbr,
         CAST(round(1000000.0 / ln(d.degree)) AS BIGINT) AS w_micro
  FROM adj a JOIN deg d ON a.u = d.node
  WHERE d.degree BETWEEN 2 AND {_AA_DEGREE_CAP}
),
pairs AS (
  SELECT a.nbr AS u, b.nbr AS v,
         CAST(sum(a.w_micro) AS BIGINT) AS score_micro,
         CAST(count(*) AS BIGINT) AS common_neighbors
  FROM mid a JOIN mid b ON a.node = b.node AND a.nbr < b.nbr
  GROUP BY 1, 2
),
nonedges AS (
  SELECT p.* FROM pairs p
  ANTI JOIN e0 e ON p.u = e.u AND p.v = e.v
)
SELECT u, v, common_neighbors, score_micro,
       round(score_micro / 1000000.0, 6) AS aa_score
FROM nonedges
ORDER BY score_micro DESC, u, v
LIMIT {_AA_TOP_K}
"""


@_register("adamic_adar_link_prediction", _ADAMIC_ADAR_SQL)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the support->=2 co-purchase graph: for every
    NON-edge pair (u, v) sharing >=1 common neighbor, the Adamic-Adar
    score sum(1/ln(deg(z))) over common neighbors z; top-100.

    Completes the graph suite's feature-generation story (census /
    centrality / communities / cores already exist): AA scores are the
    classic similarity feature for recommending related items or
    flagging near-duplicate entities that the edge sample missed.

    Scale design: pairs are generated PER COMMON NEIGHBOR (one keyed
    self-join of the adjacency list on the center node), so the blowup
    is sum(deg(z)^2) — the degree cap (:data:`_AA_DEGREE_CAP`) bounds
    the PER-NODE term (hubs contribute ~zero signal, 1/ln(deg) -> 0,
    but quadratic pairs, so they never vote), and the r12 sf1 guard
    run showed the cap alone is not enough: a DENSER graph (sf1:
    20k nodes, avg degree 120, sum d^2 = 3.0e8) blows the per-task
    volume with every node under the cap (longest task 37 s, 30 GB of
    hash-agg spill at 32 partitions).  The pair stage is therefore
    WIDTH-ADAPTIVE: one bounded 1-row aggregate measures the exact
    pair volume sum(d^2) over voting nodes (2 <= d <= cap; hubs above
    the cap are excluded by the between-filter, not clamped — they
    contribute 0, not cap^2) and the self-join repartitions to
    ceil(volume / _AA_PAIRS_PER_TASK) node partitions, so the longest
    task carries ~constant work at ANY density (the same
    measured-stats-then-size idiom as the LSH hot-bucket guard; the
    extra action is one aggregate over the node-grain degree table).
    Existing edges drop with one anti-join.  Integer-first: each
    neighbor's weight is round(1e6/ln(deg)) in micro units, the score
    an exact BIGINT sum — addition order can never flip the rounded
    value or the top-k ordering, which DuckDB replays exactly."""
    # The edge list feeds THREE consumers (two adjacency directions +
    # the final anti-join); localCheckpoint materializes the basket
    # self-join once instead of re-executing it per branch (same
    # fault-tolerance trade as operators/graph.py's module note).
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = edges.selectExpr("src AS node", "dst AS nbr").unionAll(
        edges.selectExpr("dst AS node", "src AS nbr")
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    mid = (
        adj.join(deg, "node")
        .filter(F.col("degree").between(2, _AA_DEGREE_CAP))
        .select(
            "node",
            "nbr",
            F.round(F.lit(1000000.0) / F.log(F.col("degree")))
            .cast("long")
            .alias("w_micro"),
        )
    )
    # Size the pair-generation stage from the data (r12): the exact
    # expansion volume is sum(d^2) over voting nodes — one bounded
    # 1-row action over the node-grain degree table (edges are already
    # checkpointed, so this re-runs one cheap aggregate, not the
    # basket self-join).  Plan-only consumers (PLANS.md generation,
    # batch planning) signal via plans.fragments.plan_only to skip
    # the sizing job — it executes Spark work at DataFrame-CONSTRUCTION time
    # (ADVICE r12 #2), which plan audits neither need nor want to pay;
    # they fall back to defaultParallelism, which only changes the
    # repartition width, never the result.
    from cid_etl_spark.plans.fragments import plan_only_active

    if plan_only_active():
        pair_volume = 0
    else:
        pair_volume = (
            deg.filter(F.col("degree").between(2, _AA_DEGREE_CAP))
            .agg(F.sum(F.col("degree") * F.col("degree")).alias("v"))
            .collect()[0]["v"]
            or 0
        )
    n_parts = max(
        spark.sparkContext.defaultParallelism,
        -(-int(pair_volume) // _AA_PAIRS_PER_TASK),
    )
    mid = mid.repartition(n_parts, "node")
    a, b = mid.alias("a"), mid.alias("b")
    # The pair stream is distinct-heavy (common-neighbor pairs barely
    # collapse), so the FINAL (u, v) aggregation and the anti-join must
    # run at the same adaptive width — at the default 32 shuffle
    # partitions the r12 sf1 guard measured a 29 s sort-agg task with
    # 15 GB of spill on exactly this stage.  The explicit (u, v)
    # repartition satisfies the aggregate's distribution AND is reused
    # by the anti-join's pairs side, so widening costs no extra
    # exchange downstream.
    pairs = (
        a.join(b, (F.col("a.node") == F.col("b.node")) & (F.col("a.nbr") < F.col("b.nbr")))
        .select(
            F.col("a.nbr").alias("u"),
            F.col("b.nbr").alias("v"),
            F.col("a.w_micro").alias("w_micro"),
        )
        .repartition(n_parts, "u", "v")
        .groupBy("u", "v")
        .agg(
            F.sum("w_micro").alias("score_micro"),
            F.count(F.lit(1)).alias("common_neighbors"),
        )
    )
    nonedges = pairs.join(
        edges,
        (pairs["u"] == edges["src"]) & (pairs["v"] == edges["dst"]),
        "left_anti",
    )
    return (
        nonedges.select(
            "u",
            "v",
            "common_neighbors",
            "score_micro",
            F.round(F.col("score_micro") / 1000000.0, 6).alias("aa_score"),
        )
        .orderBy(F.col("score_micro").desc(), "u", "v")
        .limit(_AA_TOP_K)
    )


# ---------------------------------------------------------------------------
# Association rules (confidence + lift) from co-purchase pairs
# ---------------------------------------------------------------------------

_ASSOC_TOP_K = 100

_ASSOC_RULES_SQL = f"""
{_ITEMS_CTE},
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
supp AS (SELECT l_partkey, count(*) AS item_orders FROM items GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
         count(*) AS pair_orders
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
)
SELECT p.antecedent, p.consequent,
       CAST(p.pair_orders AS BIGINT) AS pair_orders,
       CAST(sa.item_orders AS BIGINT) AS antecedent_orders,
       CAST(sc.item_orders AS BIGINT) AS consequent_orders,
       round(CAST(p.pair_orders AS DOUBLE) / sa.item_orders, 6) AS confidence,
       round(CAST(p.pair_orders AS DOUBLE) * n.n_orders
             / (CAST(sa.item_orders AS DOUBLE) * sc.item_orders), 6) AS lift
FROM pairs p
JOIN supp sa ON p.antecedent = sa.l_partkey
JOIN supp sc ON p.consequent = sc.l_partkey
CROSS JOIN n
ORDER BY lift DESC, confidence DESC, p.antecedent, p.consequent
LIMIT {_ASSOC_TOP_K}
"""


@_register("assoc_rules_copurchase", _ASSOC_RULES_SQL)
def assoc_rules_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: directional rules
    u -> v with pair support >= 2, scored by confidence
    (P(v|u) = pairs/supp(u)) and lift (confidence / P(v)); top-100 by
    lift.  Extends ``copurchase_part_pairs`` (raw co-occurrence
    counts) with the rule-mining semantics an item-recommendation or
    data-mixture diagnostic actually consumes.

    Scale: one basket-keyed self-join bounded by basket size squared
    (the same plan family as the census suite), singleton supports
    are one groupBy, and the support tables join back keyed on the
    item (broadcast when dims fit).  All counts are exact integers;
    confidence and lift are SINGLE divisions of exact integers, so
    rounding is engine-stable and the (lift, confidence, u, v)
    ordering is deterministic."""
    # Four consumers (pair self-join x2, supports, order count):
    # materialize the per-order item set once.
    items = basket_items(spark, sf_dir).localCheckpoint(eager=False)
    n_orders_df = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("item_orders"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("antecedent"),
            F.col("b.l_partkey").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .filter(F.col("pair_orders") >= MIN_SUPPORT)
    )
    sa = supp.selectExpr("l_partkey AS antecedent", "item_orders AS antecedent_orders")
    sc = supp.selectExpr("l_partkey AS consequent", "item_orders AS consequent_orders")
    return (
        pairs.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .crossJoin(F.broadcast(n_orders_df))
        .select(
            "antecedent",
            "consequent",
            "pair_orders",
            "antecedent_orders",
            "consequent_orders",
            F.round(
                F.col("pair_orders").cast("double") / F.col("antecedent_orders"), 6
            ).alias("confidence"),
            F.round(
                F.col("pair_orders").cast("double")
                * F.col("n_orders")
                / (
                    F.col("antecedent_orders").cast("double")
                    * F.col("consequent_orders")
                ),
                6,
            ).alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(),
            F.col("confidence").desc(),
            "antecedent",
            "consequent",
        )
        .limit(_ASSOC_TOP_K)
    )


# ---------------------------------------------------------------------------
# Apriori frequent 3-itemsets (candidate generation + downward-closure prune)
# ---------------------------------------------------------------------------

_APRIORI_TOP_K = 50

#: The ORACLE is the direct 3-way basket join — deliberately NOT a
#: replay of the Apriori plan: by downward closure the pruned
#: candidate path must produce exactly the set the brute-force
#: enumeration produces, so the oracle independently checks the
#: algorithm, not just the arithmetic.
_APRIORI_SQL = f"""
{_ITEMS_CTE}
SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, c.l_partkey AS item_c,
       CAST(count(*) AS BIGINT) AS support
FROM items a
JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
JOIN items c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
GROUP BY 1, 2, 3
HAVING count(*) >= {MIN_SUPPORT}
ORDER BY support DESC, item_a, item_b, item_c
LIMIT {_APRIORI_TOP_K}
"""


@_register("apriori_triples_copurchase", _APRIORI_SQL)
def apriori_triples_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets via the Apriori level-3
    step: candidates are generated from the FREQUENT PAIRS (join L2
    with itself on the shared first item, b < c), pruned by downward
    closure (the third face (b, c) must itself be a frequent pair),
    and only the survivors are counted against the baskets.  Top-50
    by support.

    This is the canonical distributed mining pattern the pair rows
    (copurchase/assoc_rules) build toward.  Counting is ORDER-KEYED
    (round-12 rewrite): the original plan counted candidates via an
    item-keyed join (cand ⋈ items ON item_a), whose output is
    sum over candidates of freq(item_a) — the r12 sf1 guard measured
    it at a 54-72 s longest task (|L2| = 1.2M pairs at 10× density
    makes |C3| × item frequency explode) while the order-keyed
    instance enumeration is sum(C(basket, 3)) = 16M rows there, with
    the per-TASK bound |orders/task| × C(max_basket, 3) — a data-model
    constant (max basket 17), not a density-dependent volume.  The
    Apriori structure stays, applied where it pays: baskets are first
    trimmed to items appearing in some frequent pair (the L1 prune),
    and downward closure prunes INSTANCES through three face
    semi-joins against L2 before anything shuffles to the count — a
    triple survives only if (a,b), (a,c), (b,c) are all frequent,
    exactly the membership C3 would test, without the item-keyed
    blowup.  (On a wide-basket corpus where C(basket,3) itself
    explodes, the classic hash-tree broadcast of C3 replaces the
    enumeration; at that point |C3| is the smaller side by
    construction.)  The oracle is deliberately the brute-force 3-way
    enumeration, NOT a replay: downward closure guarantees set
    equality, so DuckDB independently checks the ALGORITHM.  All
    values are exact integers."""
    items = basket_items(spark, sf_dir).localCheckpoint(eager=False)
    # L2 = frequent pairs (support >= MIN_SUPPORT), a < b — the
    # co-purchase edge list itself.
    l2 = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    # L1 prune: only items that appear in some frequent pair can be in
    # a frequent triple — trims every basket before enumeration.
    l1 = (
        l2.selectExpr("src AS item")
        .unionAll(l2.selectExpr("dst AS item"))
        .distinct()
    )
    itf = items.join(l1, items["l_partkey"] == l1["item"], "left_semi")
    i1 = itf.selectExpr("l_orderkey AS o", "l_partkey AS a")
    i2 = itf.selectExpr("l_orderkey AS o", "l_partkey AS b")
    i3 = itf.selectExpr("l_orderkey AS o", "l_partkey AS c")
    # Order-local pair instances, face-pruned to frequent pairs before
    # the third item joins in (downward closure, instance side).
    pairs_o = (
        i1.join(i2, "o")
        .filter(F.col("a") < F.col("b"))
        .join(l2.selectExpr("src AS a", "dst AS b"), ["a", "b"], "left_semi")
    )
    trip_o = (
        pairs_o.join(i3, "o")
        .filter(F.col("c") > F.col("b"))
        .join(l2.selectExpr("src AS b", "dst AS c"), ["b", "c"], "left_semi")
        .join(l2.selectExpr("src AS a", "dst AS c"), ["a", "c"], "left_semi")
    )
    support = (
        trip_o.groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= MIN_SUPPORT)
    )
    return (
        support.select(
            F.col("a").alias("item_a"),
            F.col("b").alias("item_b"),
            F.col("c").alias("item_c"),
            F.col("support").cast("long").alias("support"),
        )
        .orderBy(F.col("support").desc(), "item_a", "item_b", "item_c")
        .limit(_APRIORI_TOP_K)
    )
