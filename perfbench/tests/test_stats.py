"""Order statistics and the seed-to-query-order permutation."""

import statistics

import pytest

from perfbench import stats


def test_median_odd_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.4, 10.1, 9.9, 10.7, 10.2, 9.8, 10.3]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / q2)
    assert stats.quartile_spread([5.0] * 10) == 0.0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(list(range(10))) is None
    pct, value = stats.tail_percentile([float(x) for x in range(11)])
    assert value == 0.0  # rank 1 of 11: ten samples above it
    assert pct == pytest.approx(100.0 / 11)
    values = [float(x) for x in range(1, 101)]  # 1..100
    pct, value = stats.tail_percentile(list(reversed(values)))
    assert (pct, value) == (90.0, 90.0)
    assert sum(v > value for v in values) == 10
    pct, value = stats.tail_percentile([float(x) for x in range(1000)])
    assert (pct, value) == (99.0, 989.0)


def test_summary_reports_median_tail_and_count():
    s = stats.summary([float(x) for x in range(20)])
    assert s == {"median": 9.5, "tail_pct": 50.0, "tail": 9.0, "n": 20}
    assert stats.summary([1.0, 2.0])["tail"] is None


def test_pass_order_is_a_deterministic_permutation():
    names = [f"q{i}" for i in range(12)]
    a = stats.pass_order(names, seed=7, pass_index=3)
    assert a == stats.pass_order(names, seed=7, pass_index=3)
    assert sorted(a) == sorted(names)
    assert names == [f"q{i}" for i in range(12)]  # input left untouched
    orders = {tuple(stats.pass_order(names, seed=s, pass_index=0)) for s in range(20)}
    assert len(orders) > 15
    assert stats.pass_order(names, 7, 0) != stats.pass_order(names, 7, 1)


def test_pass_order_is_fixed_across_processes():
    # string seeding of random.Random does not depend on PYTHONHASHSEED
    assert stats.pass_order(["a", "b", "c", "d", "e"], 1, 0) == \
        stats.pass_order(["a", "b", "c", "d", "e"], 1, 0)
    assert stats.pass_order(list("abcdefgh"), 42, 0) == list("ehgcadfb")


def test_quiet_passes_keeps_those_near_the_least_stolen():
    passes = [{"host_steal_share": x} for x in (0.05, 0.11, 0.06, 0.12)]
    kept = stats.quiet_passes(passes, margin=0.02)
    assert [p["host_steal_share"] for p in kept] == [0.05, 0.06]
    # a host that reports no steal keeps every pass
    assert len(stats.quiet_passes([{"host_steal_share": 0.0}] * 3, 0.02)) == 3
