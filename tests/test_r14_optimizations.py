"""Round-14 optimization pins: adaptive grouped-map bucket sizing
(VERDICT r13 #1), ewma null-key semantics (ADVICE r13 #3),
approx_distinct_users NULL user_id semantics (ADVICE r13 #2), and the
thread-local plan-only signal (ADVICE r13 #1/#4)."""

from __future__ import annotations

import pytest

from cid_etl_spark.operators import aggregates as agg


# ---------------------------------------------------------------------------
# adaptive_group_buckets sizing (pure, no Spark)
# ---------------------------------------------------------------------------


def _buckets_for(monkeypatch, size_bytes, max_group_rows=2_000_000, floor=256):
    monkeypatch.setattr(agg, "_plan_size_bytes", lambda df: size_bytes)
    return agg.adaptive_group_buckets(object(), max_group_rows, floor=floor)


def test_adaptive_group_buckets_small_input_keeps_floor(monkeypatch):
    # sf0.1-sized events (~tens of MB) stay at the measured local sweet
    # spot — placement identical to the r13 fixed constant
    assert _buckets_for(monkeypatch, 40 << 20) == 256
    assert _buckets_for(monkeypatch, 40 << 20, floor=64) == 64


def test_adaptive_group_buckets_scales_with_input(monkeypatch):
    # the r13 cliff: 512M rows x 256 buckets == 2M-row frames, always
    # raising the guard.  The adaptive count keeps estimated
    # rows/n_buckets at max_group_rows/4 with the deliberately-low
    # bytes/row overshooting rows (the safe direction).
    size = 16 * 10_000_000_000  # >= 10G estimated rows
    n = _buckets_for(monkeypatch, size)
    rows_est = size // 16 + 1
    assert rows_est / n <= 2_000_000 / 4 + 1
    assert n > 256


def test_adaptive_group_buckets_cap_and_unknown(monkeypatch):
    assert _buckets_for(monkeypatch, 16 * (1 << 62)) == 1 << 20  # cap
    assert _buckets_for(monkeypatch, None) == 65536  # unknown => big-safe


# ---------------------------------------------------------------------------
# ewma_by_key: adaptive default + null-key recurrence
# ---------------------------------------------------------------------------


def test_ewma_adaptive_default_matches_explicit_buckets(spark):
    from cid_etl_spark.operators.timeseries import ewma_by_key

    df = spark.createDataFrame(
        [(k, t, float(k * 10 + t)) for k in range(5) for t in range(6)],
        "k int, ts int, v double",
    )
    adaptive = ewma_by_key(df, ["k"], "ts", "v").toPandas()
    pinned = ewma_by_key(df, ["k"], "ts", "v", n_buckets=3).toPandas()
    key = ["k", "ts"]
    a = adaptive.sort_values(key).reset_index(drop=True)
    p = pinned.sort_values(key).reset_index(drop=True)
    assert (a["ewma"] == p["ewma"]).all()  # placement-only


def test_ewma_null_key_gets_recurrence_not_nan(spark):
    # ADVICE r13 #3: pandas groupby defaults dropna=True, which left
    # null-keyed rows NaN after the index-aligned assignment; Spark's
    # pre-r13 groupBy computed the recurrence for the null group
    from cid_etl_spark.operators.timeseries import ewma_by_key

    df = spark.createDataFrame(
        [(None, 1, 4.0), (None, 2, 8.0), (1, 1, 2.0), (1, 2, 6.0)],
        "k int, ts int, v double",
    )
    out = ewma_by_key(df, ["k"], "ts", "v", alpha=0.5).toPandas()
    nulls = out[out["k"].isna()].sort_values("ts")
    assert nulls["ewma"].tolist() == [4.0, 6.0]  # seed, then 0.5*8+0.5*4
    rest = out[out["k"].notna()].sort_values("ts")
    assert rest["ewma"].tolist() == [2.0, 4.0]


def test_ewma_adaptive_buckets_avoid_fixed_count_overflow(spark, monkeypatch):
    # the would-have-overflowed case (VERDICT r13 #2): with the input
    # estimated fact-sized, one fixed bucket would blow the per-frame
    # cap and raise; the adaptive count spreads the keys under it
    from cid_etl_spark.operators import timeseries as ts_mod
    from cid_etl_spark.operators.timeseries import ewma_by_key

    rows = [(k, t, float(t)) for k in range(12) for t in range(2)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")

    # pinned single bucket: 24 rows in one frame > cap of 4 -> loud raise
    with pytest.raises(Exception, match="max_group_rows"):
        ewma_by_key(df, ["k"], "ts", "v", max_group_rows=4, n_buckets=1).collect()

    # adaptive: estimate says ~24 rows -> >= 24 buckets for a 4-row cap
    monkeypatch.setattr(agg, "_plan_size_bytes", lambda df: 16 * 24)
    out = ewma_by_key(df, ["k"], "ts", "v", max_group_rows=4).toPandas()
    assert len(out) == len(rows)


# ---------------------------------------------------------------------------
# approx_distinct_users: NULL user_id never counts as a distinct user
# ---------------------------------------------------------------------------


def test_approx_distinct_users_ignores_null_user_id(spark, tmp_path):
    from cid_etl_spark.queries import spark_queries

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [("click", 1), ("click", 2), ("click", None), ("buy", None)],
        "event_type string, user_id long",
    ).write.parquet(f"{sf_dir}/events.parquet")
    rows = {
        r.event_type: r
        for r in spark_queries()["approx_distinct_users"](spark, sf_dir).collect()
    }
    # COUNT(DISTINCT user_id) semantics: NULL contributes nothing
    assert rows["click"].exact_users == 2
    assert rows["buy"].exact_users == 0
    assert rows["click"].approx_within_5pct


# ---------------------------------------------------------------------------
# plan-only signal: thread-local
# ---------------------------------------------------------------------------


def test_plan_only_is_thread_local():
    import threading

    from cid_etl_spark.plans.fragments import plan_only, plan_only_active

    seen: dict[str, bool] = {}

    def other_thread():
        seen["other"] = plan_only_active()

    with plan_only():
        assert plan_only_active()
        t = threading.Thread(target=other_thread)
        t.start()
        t.join()
    assert not plan_only_active()
    # ADVICE r13 #4: a concurrent thread must NOT inherit the signal
    assert seen["other"] is False


def test_materialize_once_skips_under_plan_only(spark):
    from cid_etl_spark.operators.aggregates import materialize_once
    from cid_etl_spark.plans.fragments import plan_only

    df = spark.range(4)
    with plan_only():
        assert materialize_once(df) is df
    assert materialize_once(df) is not df  # eager checkpoint outside
