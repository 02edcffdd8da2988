"""Distributed connected components for dedup clustering.

Pair generators (MinHash/SimHash/Jaccard/embedding near-dup) emit
*edges*; keeping one representative per duplicate *group* requires the
transitive closure — connected components over the pair graph.  The
reference has no graph step (its dedup is single-key, priority dedup at
``/root/reference/etl_cid10.py:183-184``); this is the north-star
extension that turns pairwise near-dup output into actionable clusters.

Algorithm: iterative min-label propagation.  Every node starts labeled
with itself; each round it adopts the minimum label among itself and
its neighbors; at fixpoint every node carries the minimum node id of
its component.  Rounds needed = graph diameter — near-dup components
are small and dense (dups of the same source), so this converges in a
handful of rounds.  Each round is ONE Spark action: the closed
adjacency (every node's neighbors plus itself) joined to the current
labels and min-aggregated per node, written by its eager
``localCheckpoint`` — which also truncates lineage, so the plan does
not grow — with the count of decreased labels observed
(``DataFrame.observe``) inside that same job instead of counted by a
second one.  For adversarial long-chain graphs at 100 TB, switch to
the large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — same join-aggregate
primitive, O(log² n) rounds; the propagation loop below is the right
trade for dup-cluster topology.

Fault-tolerance note (applies to every ``localCheckpoint`` in this
module): localCheckpoint truncates lineage WITHOUT replication — the
blocks live only on the executors that computed them, so on a real
cluster losing an executor mid-iteration fails the job instead of
recomputing (``persist`` would degrade gracefully; reliable
``checkpoint()`` to shared storage would survive).  That trade is
deliberate here: the iterative operators re-materialize per round, the
per-round state is small (node/label/rank tables, not the corpus), and
a failed job simply reruns — while a session-pinned ``persist`` on a
lazily-returned result has no safe unpersist point (the r2→r3 bench
regressions were exactly that).  Cluster deployments that cannot
tolerate a job retry should set ``spark.sparkContext.setCheckpointDir``
to shared storage and swap ``localCheckpoint(...)`` for
``checkpoint(...)`` — the call sites are 1:1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cid_etl_spark.functions.vectors import col_sql


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every edge — ``(u, v)`` and ``(v, u)`` — in
    ONE pass over *edges* via a 2-element explode, NOT
    ``e.unionAll(e.swap)`` (r14, guide §2.4): a union references the
    edge plan twice, so the (often expensive) upstream derivation —
    e.g. the co-purchase basket self-join — executes once per branch
    inside the very job that materializes the adjacency checkpoint.
    The explode is a map-side Generate over a single derivation; the
    output multiset is identical (each input row contributes exactly
    its two directed copies).  Deduplication stays the CALLER's
    choice, as before."""
    u, v = F.col(src), F.col(dst)
    return edges.select(
        F.explode(
            F.array(
                F.struct(u.alias("u"), v.alias("v")),
                F.struct(v.alias("u"), u.alias("v")),
            )
        ).alias("__e")
    ).select("__e.u", "__e.v")


def _adjacency(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected adjacency ``(u, v)`` of *edges* that the
    fixed-round operators consume every round: self-loops dropped,
    duplicate edges collapsed, both directions emitted in one explode
    pass (:func:`_symmetrize`), materialized once.  localCheckpoint,
    not persist: the operators never get a safe point to unpersist a
    lazily-consumed cache, and truncating the lineage keeps every
    round's plan shallow (see :func:`triangle_count`)."""
    return _symmetrize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "u",
        "v",
    ).localCheckpoint(eager=True)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Resolve the pair graph to ``(node, cluster_id)``.

    ``cluster_id`` is the minimum node id in the node's component —
    deterministic, join-able back onto the corpus to pick survivors
    (e.g. keep ``doc_id == cluster_id``).  Only nodes that appear in at
    least one edge are returned (a self-loop is enough); singletons are
    trivially their own cluster and need no shuffle.  A NULL endpoint
    links nothing: its edge keeps the other node as a singleton, and
    the output carries one ``(NULL, NULL)`` row.

    Jobs: one for the closed adjacency, then one per round, the round's
    eager ``localCheckpoint``.  The adjacency holds ``(u, v)``,
    ``(v, u)``, ``(u, u)`` and ``(v, v)`` for every edge, so a node's
    neighborhood minimum already includes its own label and a round is
    one join plus one aggregate.  The same aggregate reads the node's
    previous label off its self row, and ``observe`` counts the labels
    that decreased while the checkpoint job runs: labels only ever
    decrease, so a round that decreased none is the fixpoint.  Round 1
    needs no join at all — every node is still its own label.  Every
    expression is SQL text, one Py4J call each: on the sf0.01 near-dup
    graph the whole operator is built with ~130-250 Py4J commands, not
    the ~900 of the same plan written with the Column API.
    """
    u, v = col_sql(src), col_sql(dst)
    closed = ", ".join(
        f"struct({x} AS a, {y} AS b)" for x, y in ((u, v), (v, u), (u, u), (v, v))
    )
    # Materialize the (possibly expensive) pair plan ONCE, closed and
    # deduped, in one explode pass over it (see _symmetrize).  A row with
    # exactly one NULL endpoint is dropped: the self rows keep its other
    # node, and (NULL, NULL) keeps the NULL node.
    adj = (
        edges.selectExpr(f"inline(array({closed}))")
        .where("isnull(a) = isnull(b)")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # every node starts as its own label (one self row per node), so
    # round 1 reads each neighbor's id as its label: no join
    labels = adj.selectExpr("a AS node", "b AS label").where("node <=> label")
    nbr = adj.selectExpr("a", "b", "b AS label")
    for _ in range(max_iter):
        obs = Observation()
        labels = (
            nbr.groupBy("a")
            .agg(
                F.expr("min(label) AS label"),
                F.expr("min(CASE WHEN a = b THEN label END) AS old"),
            )
            .observe(obs, F.expr("count(CASE WHEN label < old THEN 1 END) AS decreased"))
            .selectExpr("a AS node", "label")
            .localCheckpoint(eager=True)
        )
        if obs.get["decreased"] == 0:
            break
        nbr = adj.join(labels, F.expr("b <=> node")).selectExpr("a", "b", "label")
    return labels.selectExpr("node", "label AS cluster_id")


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the adversarial-diameter scale path promised by
    :func:`connected_components`'s docstring.

    Min-label propagation needs *diameter* rounds: a 10⁶-node chain
    (pathological but real — think overlapping shingle chains) would
    take 10⁶ shuffles.  The star operations contract the graph toward
    a star per component in **O(log² n) rounds regardless of
    topology**:

    - *large-star*: every node's strictly-LARGER neighbors re-attach
      to the minimum of its neighborhood (incl. itself);
    - *small-star*: every node and its ≤-neighbors re-attach to that
      minimum.

    Both are the same physical shape as one propagation round — a
    per-node min-aggregate joined back onto the symmetric edge list —
    so the per-round cost is identical; only the round COUNT changes.
    At fixpoint the edge set IS the answer: ``(node → component
    minimum)`` for every non-root node.

    Returns ``(node, cluster_id)`` with ``cluster_id`` = component
    minimum, identical contract (and output) to
    :func:`connected_components`: a node whose only edges are
    self-loops or have a NULL other end is its own cluster, and a NULL
    endpoint gives one ``(NULL, NULL)`` row.  The star rounds see only
    the edges between two distinct non-NULL nodes; every endpoint they
    did not label joins the output in the final aggregate, which reads
    the first checkpoint and costs no extra action.  Tests pin the two
    operators against each other on random graphs and pin the round
    count on long chains.
    """
    # ONE materialization of the (possibly expensive) pair plan: the
    # r13 shape checkpointed the raw pair list eagerly AND the distinct
    # of it eagerly — writing the edge table twice back to back
    # (guide §2.4/§5); the distinct folds into the same first job.
    pairs = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # a != b is NULL, so not true, when an endpoint is NULL
    cur = pairs.filter(F.col("a") != F.col("b"))
    prev_sig = None
    for _ in range(max_iter):
        # cur is always checkpointed here, so the two union branches
        # read materialized blocks — no derivation re-runs
        sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
        mins = sym.groupBy("a").agg(F.min("b").alias("__mn"))
        m = F.least(F.col("__mn"), F.col("a"))
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), m.alias("b"))
        )
        # small-star over the ≤-neighborhood: m(u) = min(N≤(u) ∪ {u});
        # emit (v, m) for v ∈ N≤(u) ∪ {u}, v ≠ m
        le = sym.filter(F.col("b") <= F.col("a"))
        mins_le = le.groupBy("a").agg(F.min("b").alias("__mn"))
        small_nbrs = (
            le.join(mins_le, "a")
            .filter(F.col("b") != F.col("__mn"))
            .select(F.col("b").alias("a"), F.col("__mn").alias("b"))
        )
        small_self = mins_le.filter(F.col("a") != F.col("__mn")).select(
            "a", F.col("__mn").alias("b")
        )
        # the fixpoint signature (row count, decimal hash sum: exact and
        # overflow-free under ANSI mode, where a raw BIGINT sum of
        # xxhash64 values overflows at once) is observed inside the
        # checkpoint job, not collected by a second one
        obs = Observation()
        cur = (
            large.union(small_nbrs)
            .union(small_self)
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        sig = (obs.get["n"], obs.get["h"])
        if sig == prev_sig:
            break
        prev_sig = sig

    roots = cur.select(F.col("b").alias("node"), F.col("b").alias("cluster_id"))
    members = cur.select(F.col("a").alias("node"), F.col("b").alias("cluster_id"))
    # every endpoint as its own candidate label: a labeled node's
    # cluster id is at most the node itself, so min() keeps it; an
    # unlabeled node keeps itself; the NULL group gives (NULL, NULL)
    endpoints = pairs.selectExpr(
        "inline(array(struct(a AS node, a AS cluster_id), "
        "struct(b AS node, b AS cluster_id)))"
    )
    return (
        members.union(roots)
        .union(endpoints)
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a SYMMETRIC edge list (every edge
    present in both directions), as a chain of lazy join+aggregate
    rounds — no RDDs, no driver-side state beyond the loop counter.

    Ranks start uniform at 1/N and each round recomputes
    ``rank(v) = (1-d)/N + d * Σ rank(u)/deg(u)`` over v's in-edges.  A
    FIXED iteration count (not a convergence test) keeps the result
    deterministic and engine-replicable — the DuckDB oracle unrolls the
    same rounds symbolically.  Symmetry is the caller's contract and
    buys two simplifications (r13, guide §2.4 "remove shuffles
    outright"): every node appears as a source, so the node list is
    the distinct of *src* alone; and every node has an in-edge and an
    out-edge, so no rank mass leaks and no per-round join re-attaches
    zero-contribution nodes.  A directed graph with dangling or
    source-only nodes must be symmetrized or pre-trimmed first.

    Scale notes: each round is one shuffle (the groupBy on *dst*);
    the degree-annotated edge table is materialized ONCE — the degree
    comes from a count window over the same shuffle that lands the
    edges, not a separate groupBy+join rematerialization (r13: the old
    e0-checkpoint → deg-join → e-checkpoint chain wrote the fact-sized
    edge table twice; one pass measured ~2.5 s faster at sf0.1) — and
    ranks are ``localCheckpoint``-ed every 5 rounds so the lazy plan
    (and with it the scheduler's work per action) stays shallow
    instead of growing linearly with the round count.  The per-round
    join layout is left to AQE on purpose — at small scale
    ranks broadcast (zero edge shuffle per round), at cluster scale
    AQE falls back to a co-partitioned hash join.

    SKEW CAVEAT (VERDICT r13 #3) on the degree window: ``count(1) OVER
    (PARTITION BY src)`` ships every edge of a hot source to one task
    with no partial aggregation.  Co-purchase degrees are bounded by
    basket overlap — the hub-skew probe (BASELINE.md, 9bd0d2c)
    measures the fixture's hottest src at a few hundred edges, orders
    below task grain.  A graph with a super-hub (a symmetrized web
    crawl) skews this window harder than the old groupBy+join shape
    only when the degree table outgrows the broadcast threshold —
    below it the groupBy+join never shuffled the edges at all.  Such callers should
    pre-aggregate degrees two-phase (salt, sum) and join, trading the
    single-pass materialization back for skew immunity.
    """
    checkpoint_every = 5
    # Materialize the degree-annotated edge table before anything
    # derives from it: the node list and every round consume it, and
    # without the cache the (often expensive) upstream edge derivation
    # — e.g. the co-purchase basket self-join — re-runs per consumer.
    # (localCheckpoint, not persist: the returned rank table is lazy,
    # so a persist would pin the cache for the session — checkpointed
    # blocks release when the plan is GC'd.)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .withColumn(
            "__deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for it in range(iterations):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("__deg")).alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = contribs.select(
            "node",
            (F.lit(base) + F.lit(damping) * F.col("__in")).alias("rank"),
        )
        if (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle census via degree-oriented wedge joins — the
    distributed "compact-forward" scheme (Latapy 2008; the same
    orientation trick MapReduce/Spark triangle counters use).

    Naive closure counting joins the edge list to itself on arbitrary
    endpoints, and a single hub of degree d contributes d² wedge rows —
    the skew that kills web/retail graphs.  Orienting every edge from
    its LOWER (degree, id) endpoint to the higher caps every node's
    out-degree at O(√m), so the wedge join emits Σ out-deg² = O(m^1.5)
    rows total regardless of hubs, and each triangle materializes
    exactly once (its smallest-ordered vertex is the pivot).

    Three shuffles end-to-end: undirected dedup, the degree count, and
    the wedge/closure joins (AQE broadcasts the oriented list when it
    fits).  Emits ONE summary row: node/edge/wedge/triangle counts and
    the global clustering coefficient ``3·triangles / unoriented
    wedges`` (wedges = Σ d(d−1)/2).
    """
    u = F.least(F.col(src), F.col(dst)).alias("u")
    v = F.greatest(F.col(src), F.col(dst)).alias("v")
    e = edges.select(u, v).filter(F.col("u") != F.col("v")).distinct()
    # localCheckpoint (not persist): e and o are each consumed by
    # several downstream branches AND by the three crossJoined summary
    # aggregates — truncating lineage keeps the final plan a handful
    # of nodes instead of re-printing the whole derivation under every
    # cached-subtree reference (execution would reuse the cache either
    # way; the scheduler and the plan audit should see the small plan)
    e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).localCheckpoint(eager=True)
    o1, o2 = o.alias("o1"), o.alias("o2")
    lt = (F.col("o1.db") < F.col("o2.db")) | (
        (F.col("o1.db") == F.col("o2.db")) & (F.col("o1.b") < F.col("o2.b"))
    )
    wedges = o1.join(o2, (F.col("o1.a") == F.col("o2.a")) & lt).select(
        F.col("o1.b").alias("x"), F.col("o2.b").alias("y")
    )
    closed = wedges.join(
        o.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"], "left_semi"
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.expr("CAST(sum(d * (d - 1)) AS BIGINT) div 2").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_tri = closed.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(n_tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering"),
        )
    )


#: label_propagation truncates the label lineage every this many rounds.
_LPA_CHECKPOINT_EVERY = 2


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA,
    Raghavan 2007) with a DETERMINISTIC tie-break, as fixed lazy
    join+aggregate rounds — the same engine-replicable discipline as
    :func:`pagerank` (a convergence test or random tie-break would
    make the result run-dependent and un-oracle-able).

    Every node starts in its own community (label = node id); each
    round every node adopts the most common label among its neighbors,
    ties broken by SMALLEST label.  Updates are synchronous (all votes
    read the previous round's labels), so the result is a pure
    function of the graph.  Per round: one edge⋈label join (AQE
    broadcasts the label table when it fits) and one (node, label)
    count + per-node argmax — both AGGREGATES with map-side partial
    combine (r14, guide §2.3/§2.4: the argmax was a row_number window
    over a per-node sort; ``min(struct(-cnt, label))`` picks the
    identical winner — largest cnt, ties to smallest label; (node,
    label) rows are unique post-count so no further ties exist — with
    no sort and partial aggregation).  ``localCheckpoint`` every
    :data:`_LPA_CHECKPOINT_EVERY` rounds truncates the growing lineage
    exactly as the other iterative operators do.

    Input edges are treated as UNDIRECTED (symmetrized here in one
    explode pass — see :func:`_symmetrize`); disconnected input nodes
    never appear (edge-derived node set).  Returns
    ``(node, community)``.
    """
    adj = _adjacency(edges, src, dst)
    labels = adj.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for r in range(rounds):
        votes = (
            adj.join(labels, adj.u == labels.node)
            .select(F.col("v").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = F.min(
            F.struct((-F.col("cnt")).alias("__nc"), F.col("label"))
        ).alias("__best")
        labels = (
            votes.groupBy("node")
            .agg(best)
            .select("node", F.col("__best.label").alias("label"))
        )
        if (r + 1) % _LPA_CHECKPOINT_EVERY == 0 and r + 1 < rounds:
            labels = labels.localCheckpoint(eager=True)
    return labels.select("node", F.col("label").alias("community"))


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Unweighted shortest-path distances from a source set via
    fixed-round frontier relaxation (synchronous BFS) — the third
    member of the iterative family (CC, PageRank, LPA) under the same
    engine-replicable discipline: a FIXED round count, so distances
    are exact for all nodes within *rounds* hops and the oracle can
    unroll the rounds symbolically.

    Each round unions the current distance table with every neighbor
    relaxation ``dist(u) + 1`` and takes the per-node minimum — one
    keyed shuffle with map-side partial min, label table broadcast by
    AQE while it fits.  Nodes beyond the horizon simply don't appear
    (no infinity sentinel to disagree about).  *sources* is a
    one-column DataFrame of seed nodes at distance 0.
    """
    adj = _adjacency(edges, src, dst)
    dist = sources.select(
        F.col(sources.columns[0]).alias("node"), F.lit(0).cast("int").alias("dist")
    )
    for r in range(rounds):
        relax = adj.join(dist, adj.u == dist.node).select(
            F.col("v").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionAll(relax)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if (r + 1) % 2 == 0 and r + 1 < rounds:
            dist = dist.localCheckpoint(eager=True)
    return dist


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by fixed-round peeling: repeatedly drop
    nodes whose CURRENT degree is below *k* (each removal can expose
    new below-threshold nodes, hence the rounds).  A fixed round count
    keeps the result engine-replicable — the exact k-core is reached
    once a round removes nothing, and dup/spam topologies peel in a
    few rounds; pathological chains that need more simply return the
    round-bounded superset, deterministically.

    Per round: one degree aggregation + two semi joins restricting the
    edge list to surviving endpoints — all keyed on node ids, partial
    aggregation map-side, lineage localCheckpoint-truncated.  Emits
    ``(node, core_degree)`` for nodes surviving all rounds, with their
    degree inside the surviving subgraph.
    """
    adj = _adjacency(edges, src, dst)
    for r in range(rounds):
        deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("__d"))
        keep = deg.filter(F.col("__d") >= k).select("u")
        adj = (
            adj.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
    return adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )
