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


def _union_find(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def test_matches_union_find_on_random_graphs(spark):
    import random

    rng = random.Random(11)
    for n_nodes, n_edges in ((40, 30), (80, 120)):
        base = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]
        edges = (
            base
            + base[: n_edges // 4]  # duplicate edges
            + [(v, u) for u, v in base[n_edges // 4 : n_edges // 2]]  # reversed
            + [(u, u) for u, _ in base[: n_edges // 8]]  # self-loops
        )
        rng.shuffle(edges)
        assert _cc(spark, edges) == _union_find(edges)


def test_empty_edges_return_no_rows(spark):
    out = connected_components(spark.createDataFrame([], "src long, dst long"))
    assert out.columns == ["node", "cluster_id"]
    assert dict(out.dtypes) == {"node": "bigint", "cluster_id": "bigint"}
    assert out.collect() == []


def test_null_endpoints_link_nothing(spark):
    # pinned from the join-per-round implementation: a NULL endpoint
    # keeps its edge's other node as a singleton and adds one
    # (NULL, NULL) row
    edges = [(1, 2), (2, None), (None, 3), (3, 4), (None, None), (5, 5), (6, None)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (tuple(r) for r in connected_components(df).collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5), (6, 6), (None, None)]


def test_one_checkpoint_job_per_round_and_no_other_action(spark, monkeypatch):
    """The 9-node chain reaches its fixpoint in 8 rounds and confirms it
    in a 9th: 1 adjacency checkpoint + 9 round checkpoints, and no
    count or collect — convergence is observed inside each round's
    checkpoint job."""
    df = spark.createDataFrame([(i, i + 1) for i in range(1, 9)], "src long, dst long")
    calls = {"localCheckpoint": 0, "count": 0, "collect": 0}
    cls = type(df)
    for name in calls:
        orig = getattr(cls, name)

        def counted(self, *args, _orig=orig, _name=name, **kwargs):
            calls[_name] += 1
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, counted)
    out = connected_components(df)
    assert calls == {"localCheckpoint": 1 + (8 + 1), "count": 0, "collect": 0}
    monkeypatch.undo()
    assert {r.cluster_id for r in out.collect()} == {1}


def test_star_cc_matches_propagation_on_random_graphs(spark):
    """The star loop returns exactly the propagation loop's output,
    including self-loop-only nodes, nodes whose only edges have a NULL
    end, and the (NULL, NULL) row."""
    import random

    from cid_etl_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    graphs = [[(1, 2), (2, None), (None, 3), (3, 4), (None, None), (5, 5), (6, None)]]
    for seed in (7, 8, 9):
        rng = random.Random(seed)
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
        edges += [(v, u) for u, v in rng.sample(edges, 10)]  # reversed
        edges += rng.sample(edges, 10)  # duplicated
        edges += [(n, n) for n in rng.sample(range(60, 70), 4)]  # self-loops
        graphs.append(edges)
    for edges in graphs:
        df = spark.createDataFrame(edges, "src long, dst long")
        want = sorted(
            (tuple(r) for r in connected_components(df).collect()), key=repr
        )
        got = sorted(
            (tuple(r) for r in connected_components_star(df).collect()), key=repr
        )
        assert got == want, edges


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
