"""Semantic unit tests for the round-11 queries (queries/round11.py,
and its co-purchase rows in queries/graph.py):
brute-force cross-checks and closed-form properties, independent of
the DuckDB oracle (tests/test_oracle_parity.py covers the oracle
hash-match at sf0.001; these pin the MATH)."""

from __future__ import annotations

import math
from collections import defaultdict

import pandas as pd
import pytest

from .conftest import SF_SMOKE


def _baskets(duck):
    rows = duck.execute(
        "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem"
    ).fetchall()
    baskets = defaultdict(set)
    for o, p in rows:
        baskets[o].add(p)
    return baskets


def _edges_support2(duck):
    pair_count: dict[tuple[int, int], int] = defaultdict(int)
    for items in _baskets(duck).values():
        s = sorted(items)
        for i, a in enumerate(s):
            for b in s[i + 1:]:
                pair_count[(a, b)] += 1
    return {p for p, c in pair_count.items() if c >= 2}


def test_adamic_adar_matches_bruteforce(spark, duck):
    """The registered top-k must equal a pure-Python Adamic-Adar on
    the same support->=2 graph: same integer micro scores, same
    deterministic ordering, no existing edge leaking through the
    anti-join."""
    from cid_etl_spark.queries.graph import (
        _AA_DEGREE_CAP,
        _AA_TOP_K,
        adamic_adar_link_prediction,
    )

    edges = _edges_support2(duck)
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    scores: dict[tuple[int, int], int] = defaultdict(int)
    common: dict[tuple[int, int], int] = defaultdict(int)
    for z, nbrs in adj.items():
        deg = len(nbrs)
        if deg < 2 or deg > _AA_DEGREE_CAP:
            continue
        w = round(1000000.0 / math.log(deg))
        s = sorted(nbrs)
        for i, u in enumerate(s):
            for v in s[i + 1:]:
                scores[(u, v)] += w
                common[(u, v)] += 1
    expected = sorted(
        ((u, v, common[(u, v)], sc) for (u, v), sc in scores.items()
         if (u, v) not in edges),
        key=lambda r: (-r[3], r[0], r[1]),
    )[:_AA_TOP_K]

    got = adamic_adar_link_prediction(spark, SF_SMOKE).collect()
    assert len(got) == len(expected)
    for row, (u, v, cn, sc) in zip(got, expected):
        assert (row.u, row.v, row.common_neighbors, row.score_micro) == (
            u, v, cn, sc,
        )
        assert (row.u, row.v) not in edges
        assert row.aa_score == pytest.approx(sc / 1e6, abs=1e-9)


def test_assoc_rules_confidence_lift_bruteforce(spark, duck):
    """Directional rules: confidence = pairs/supp(antecedent), lift
    symmetric, pair support bounded by both singleton supports."""
    from cid_etl_spark.queries.graph import assoc_rules_copurchase

    baskets = _baskets(duck)
    n_orders = len(baskets)
    supp: dict[int, int] = defaultdict(int)
    pair: dict[tuple[int, int], int] = defaultdict(int)
    for items in baskets.values():
        for p in items:
            supp[p] += 1
        s = sorted(items)
        for i, a in enumerate(s):
            for b in s[i + 1:]:
                pair[(a, b)] += 1

    rows = assoc_rules_copurchase(spark, SF_SMOKE).collect()
    assert rows, "sf0.001 has support-2 pairs"
    lifts = [r.lift for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        key = (min(r.antecedent, r.consequent), max(r.antecedent, r.consequent))
        assert r.pair_orders == pair[key] >= 2
        assert r.antecedent_orders == supp[r.antecedent]
        assert r.consequent_orders == supp[r.consequent]
        assert r.pair_orders <= min(r.antecedent_orders, r.consequent_orders)
        assert r.confidence == pytest.approx(
            r.pair_orders / r.antecedent_orders, abs=1e-6
        )
        assert r.lift == pytest.approx(
            r.pair_orders * n_orders / (r.antecedent_orders * r.consequent_orders),
            abs=1e-6,
        )


def test_mutual_information_matches_manual(spark, duck):
    """MI/H computed independently from the raw (lang, source) counts
    must match the registered single-pass window plan."""
    from cid_etl_spark.queries.round11 import mutual_information_lang_source

    counts = duck.execute(
        "SELECT lang, source, count(*) FROM documents GROUP BY 1, 2"
    ).fetchall()
    n = sum(c for _, _, c in counts)
    nl: dict[str, int] = defaultdict(int)
    ns: dict[str, int] = defaultdict(int)
    for l, s, c in counts:
        nl[l] += c
        ns[s] += c
    mi = sum(
        (c / n) * math.log2(c * n / (nl[l] * ns[s])) for l, s, c in counts
    )
    hl = -sum((v / n) * math.log2(v / n) for v in nl.values())
    hs = -sum((v / n) * math.log2(v / n) for v in ns.values())

    row = mutual_information_lang_source(spark, SF_SMOKE).collect()[0]
    assert row.n_docs == n
    assert row.mi_bits == pytest.approx(mi, abs=1e-5)
    assert row.h_lang_bits == pytest.approx(hl, abs=1e-5)
    assert row.h_source_bits == pytest.approx(hs, abs=1e-5)
    assert row.nmi == pytest.approx(mi / math.sqrt(hl * hs), abs=1e-5)
    # information-theoretic bounds
    assert -1e-9 <= row.mi_bits <= min(hl, hs) + 1e-9
    assert -1e-9 <= row.nmi <= 1 + 1e-9


def test_calibration_ece_consistency(spark):
    """Bin table invariants: bins cover all docs exactly once, the
    published ECE is the count-weighted mean absolute gap, gaps match
    |mean_conf - frac_pos| before rounding."""
    from cid_etl_spark.queries.round11 import calibration_ece_classifier

    rows = calibration_ece_classifier(spark, SF_SMOKE).collect()
    assert rows
    n_total = sum(r.n_docs for r in rows)
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchone()[0]
    assert n_total == n_docs
    eces = {r.ece for r in rows}
    assert len(eces) == 1, "ECE is a single corpus-level number"
    expected_ece = sum(r.n_docs * r.abs_gap for r in rows) / n_total
    assert rows[0].ece == pytest.approx(expected_ece, abs=2e-6)
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.mean_conf <= 1.0
        assert 0.0 <= r.frac_pos <= 1.0
        assert r.abs_gap == pytest.approx(abs(r.mean_conf - r.frac_pos), abs=2e-6)


def test_holt_recurrence_exact_on_linear_series():
    """On an exactly linear series the Holt recurrence reproduces the
    line: level = last value, trend = slope, forecasts extrapolate."""
    from cid_etl_spark.queries.round11 import _holt_frame

    months = [f"2024-{m:02d}" for m in range(1, 13)]
    ys = [10.0 + 5.0 * t for t in range(12)]
    pdf = pd.DataFrame({"region": ["R"] * 12, "month": months, "y": ys})
    out = _holt_frame(pdf.sample(frac=1.0, random_state=7))  # order-proof
    row = out.iloc[0]
    assert row["n_months"] == 12
    assert row["level"] == pytest.approx(ys[-1], abs=1e-8)
    assert row["trend"] == pytest.approx(5.0, abs=1e-8)
    for h in (1, 2, 3):
        assert row[f"forecast_{h}"] == pytest.approx(ys[-1] + 5.0 * h, abs=1e-7)


def test_holt_level_tracks_step_change():
    """After a level step the smoothed level must move to the new
    plateau's neighborhood (Holt's trend term legitimately OVERSHOOTS
    a step — the level lands above 200 and decays back, so the bound
    is a neighborhood, not the plateau itself)."""
    from cid_etl_spark.queries.round11 import _holt_frame

    months = [f"2024-{m:02d}" for m in range(1, 11)]
    ys = [100.0] * 5 + [200.0] * 5
    pdf = pd.DataFrame({"region": ["R"] * 10, "month": months, "y": ys})
    row = _holt_frame(pdf).iloc[0]
    assert 180.0 < row["level"] < 250.0, "level reaches the step neighborhood"
    # five flat observations after the step already bend the trend down
    assert row["trend"] < 25.0


def test_classifier_passthrough_columns(spark):
    """The round-11 passthrough on quality_classifier appends caller
    columns without disturbing the pinned 5-column contract."""
    from cid_etl_spark.operators.classifier import quality_classifier

    df = spark.createDataFrame(
        [("a", "the quick brown fox", 1)], "doc_id string, text string, label int"
    )
    base = quality_classifier(df)
    assert base.columns == ["doc_id", "n_tokens", "margin", "quality_score", "keep"]
    ext = quality_classifier(df, passthrough=("label",))
    assert ext.columns == base.columns + ["label"]
    assert ext.collect()[0].label == 1


def test_correlation_matrix_matches_numpy(spark, duck):
    """Pearson from the one-pass exact moments must equal numpy's
    corrcoef on the raw columns."""
    import numpy as np

    from cid_etl_spark.queries.round11 import (
        _CORR_COLS,
        correlation_matrix_lineitem,
    )

    raw = duck.execute(
        f"SELECT {', '.join(_CORR_COLS)} FROM lineitem"
    ).fetchnumpy()
    # snap to the same integer hundredths the query uses
    mat = np.vstack([np.round(raw[c] * 100) for c in _CORR_COLS])
    expected = np.corrcoef(mat)
    rows = correlation_matrix_lineitem(spark, SF_SMOKE).collect()
    assert len(rows) == 6
    idx = {c: i for i, c in enumerate(_CORR_COLS)}
    for r in rows:
        assert r.n_rows == mat.shape[1]
        assert r.corr == pytest.approx(
            expected[idx[r.col_a], idx[r.col_b]], abs=1e-5
        )
        assert -1.0 - 1e-9 <= r.corr <= 1.0 + 1e-9


def test_embedding_contamination_bruteforce(spark, duck):
    """Every holdout vector's reported neighbor must be the true
    cosine argmax over the train side (rounded-cosine ordering, train
    id tiebreak), and split sides must not overlap."""
    import numpy as np

    from cid_etl_spark.queries.embeddings import (
        _CONTAM_HOLDOUT_HEX,
        embedding_split_contamination,
    )
    import hashlib

    rows = duck.execute("SELECT vec_id, embedding FROM embeddings").fetchall()
    vecs = {vid: np.asarray(v, dtype="float64") for vid, v in rows}
    is_holdout = {
        vid: hashlib.md5(str(vid).encode()).hexdigest() < _CONTAM_HOLDOUT_HEX
        for vid in vecs
    }
    train = [v for v in vecs if not is_holdout[v]]
    got = embedding_split_contamination(spark, SF_SMOKE).collect()
    assert {r.vec_id for r in got} == {v for v in vecs if is_holdout[v]}
    for r in got[:25]:  # spot-check a prefix, full set is oracle-checked
        hv = vecs[r.vec_id]
        best = max(
            train,
            key=lambda t: (
                round(
                    float(
                        np.dot(hv, vecs[t])
                        / (np.linalg.norm(hv) * np.linalg.norm(vecs[t]))
                    ),
                    4,
                ),
                -t,
            ),
        )
        assert r.nearest_train_id == best
        assert not is_holdout[r.nearest_train_id]


def test_ndcg_metrics_are_consistent(spark):
    """Metric identities: dcg <= idcg (so ndcg <= 1), hits bound
    precision, mrr consistent with the first hit's position."""
    from cid_etl_spark.queries.round11 import _NDCG_K, ndcg_retrieval_eval

    row = ndcg_retrieval_eval(spark, SF_SMOKE).collect()[0]
    assert row.n_relevant > 0, "relevance label must not be vacuous"
    assert 0 <= row.hits_at_k <= _NDCG_K
    assert row.dcg <= row.idcg + 1e-9
    assert 0.0 <= row.ndcg <= 1.0 + 1e-9
    assert row.precision_at_k == pytest.approx(row.hits_at_k / _NDCG_K, abs=1e-6)
    if row.hits_at_k == 0:
        assert row.mrr == 0.0
    else:
        assert 1.0 / _NDCG_K <= row.mrr <= 1.0


def test_apriori_triples_downward_closure_and_bruteforce(spark, duck):
    """The Apriori path must equal brute-force triple enumeration
    (downward closure makes the pruning lossless), and every reported
    triple's three faces must be frequent pairs."""
    from cid_etl_spark.queries.graph import (
        _APRIORI_TOP_K,
        MIN_SUPPORT,
        apriori_triples_copurchase,
    )

    baskets = _baskets(duck)
    triple: dict[tuple[int, int, int], int] = defaultdict(int)
    for items in baskets.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                for k in range(j + 1, len(s)):
                    triple[(s[i], s[j], s[k])] += 1
    expected = sorted(
        ((a, b, c, n) for (a, b, c), n in triple.items()
         if n >= MIN_SUPPORT),
        key=lambda r: (-r[3], r[0], r[1], r[2]),
    )[:_APRIORI_TOP_K]

    pairs = _edges_support2(duck)
    got = apriori_triples_copurchase(spark, SF_SMOKE).collect()
    assert [(r.item_a, r.item_b, r.item_c, r.support) for r in got] == expected
    for r in got:
        for face in ((r.item_a, r.item_b), (r.item_a, r.item_c),
                     (r.item_b, r.item_c)):
            assert face in pairs, "downward closure violated"


def test_incremental_join_maintenance_equals_recompute(spark, duck):
    """merge(state, delta-join) must equal the full three-table
    recompute — the IVM contract itself."""
    from cid_etl_spark.queries.round11 import incremental_join_maintenance

    expected = {
        n: (rev, cnt)
        for n, rev, cnt in duck.execute(
            """SELECT n.n_name,
                      round(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2),
                      count(*)
               FROM orders o
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN nation n ON c.c_nationkey = n.n_nationkey
               GROUP BY n.n_name"""
        ).fetchall()
    }
    got = incremental_join_maintenance(spark, SF_SMOKE).collect()
    assert len(got) == len(expected)
    for r in got:
        rev, cnt = expected[r.nation]
        assert r.n_orders == cnt
        assert r.revenue == pytest.approx(float(rev), abs=1e-6)


def test_holt_single_month_group_dropped_like_oracle():
    # ADVICE r11 #1: one observation cannot initialize the trend — the
    # Arrow worker drops the group exactly as the SQL oracle's init CTE
    # (inner join on rn=2) does, instead of raising IndexError
    import pandas as pd

    from cid_etl_spark.queries.round11 import _holt_frame

    pdf = pd.DataFrame({"region": ["X"], "month": ["2024-01"], "y": [5.0]})
    out = _holt_frame(pdf)
    assert len(out) == 0
    assert "forecast_3" in out.columns  # schema intact for Arrow


def test_holt_group_row_cap_raises_loudly():
    # VERDICT r11 #7: a fact-grain misuse must fail attributably, not
    # OOM the Arrow worker
    import pandas as pd
    import pytest

    import cid_etl_spark.queries.round11 as r11

    pdf = pd.DataFrame(
        {"region": ["X"] * 5, "month": [f"m{i}" for i in range(5)],
         "y": [1.0] * 5}
    )
    orig = r11._HOLT_MAX_MONTHS
    r11._HOLT_MAX_MONTHS = 3
    try:
        with pytest.raises(ValueError, match="Arrow-frame bound"):
            r11._holt_frame(pdf)
    finally:
        r11._HOLT_MAX_MONTHS = orig


def test_ewma_group_row_cap_raises_loudly(spark):
    # the distributed twin of the cap: a 5-row group over a cap of 3
    # surfaces the ValueError through the Arrow worker with the group
    # key in the message
    import pytest

    from cid_etl_spark.operators.timeseries import ewma_by_key

    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(5)], "k int, ts int, v double"
    )
    out = ewma_by_key(df, ["k"], "ts", "v", max_group_rows=3)
    with pytest.raises(Exception, match="max_group_rows"):
        out.collect()
