"""Unit tests for connected components (dedup clustering)."""

from __future__ import annotations

from cid_etl_spark.operators.graph import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = connected_components(df).collect()
    return {r["node"]: r["cluster_id"] for r in rows}


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # diameter > 1 forces multiple propagation rounds
    got = _cc(spark, [(i, i + 1) for i in range(1, 9)])
    assert set(got.values()) == {1}
    assert len(got) == 9


def test_cycle_and_reversed_edges(spark):
    got = _cc(spark, [(3, 2), (2, 1), (1, 3), (7, 6)])
    assert got == {1: 1, 2: 1, 3: 1, 6: 6, 7: 6}


def test_self_loop_singleton(spark):
    got = _cc(spark, [(5, 5)])
    assert got == {5: 5}


def test_star_cc_matches_propagation_on_random_graphs(spark):
    import random

    from cid_etl_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {
        (r.node, r.cluster_id)
        for r in connected_components(df).collect()
    }
    b = {
        (r.node, r.cluster_id)
        for r in connected_components_star(df).collect()
    }
    # propagation returns self-loops' nodes too when a==b edges exist;
    # star filters self-edges first — compare on the common node set
    nodes_b = {n for n, _ in b}
    a = {(n, c) for n, c in a if n in nodes_b}
    assert a == b


def test_star_cc_contracts_long_chain_in_logarithmic_rounds(spark):
    from cid_etl_spark.operators.graph import connected_components_star

    n = 257
    chain = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(chain, "src long, dst long")
    out = connected_components_star(df, max_iter=12).collect()
    assert len(out) == n
    assert {r.cluster_id for r in out} == {0}


def test_pagerank_matches_power_iteration(spark):
    """The fixed-round operator equals a dense power iteration with the
    same damping and round count on a small symmetric graph (uneven
    degrees, a triangle, a pendant chain and a separate component)."""
    import numpy as np

    from cid_etl_spark.operators.graph import pagerank
    from cid_etl_spark.queries.graph import PAGERANK_DAMPING, PAGERANK_ITERATIONS

    undirected = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (2, 7), (8, 9)]
    edges = undirected + [(v, u) for u, v in undirected]
    nodes = sorted({u for u, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for u, _ in edges:
        out_deg[idx[u]] += 1
    m = np.zeros((n, n))  # m[v, u] = 1/deg(u) for every edge u -> v
    for u, v in edges:
        m[idx[v], idx[u]] += 1.0 / out_deg[idx[u]]
    want = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_ITERATIONS):
        want = (1.0 - PAGERANK_DAMPING) / n + PAGERANK_DAMPING * (m @ want)

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank
        for r in pagerank(
            df, damping=PAGERANK_DAMPING, iterations=PAGERANK_ITERATIONS
        ).collect()
    }
    assert sorted(got) == nodes
    for node in nodes:
        assert abs(got[node] - want[idx[node]]) <= 1e-12, node
