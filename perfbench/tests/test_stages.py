"""Stage-metric aggregation over recorded REST JSON.

``data/rest_q18_action.json`` is the status-store view of one
``tpch_q18_large_orders`` noop action (11 jobs) on the 0.01-scale
inputs, trimmed to the fields the aggregation reads."""

import copy
import json
import os

import pytest

from perfbench import stages

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.fixture
def sample():
    with open(os.path.join(HERE, "data", "rest_q18_action.json")) as f:
        return json.load(f)


def test_aggregate_recorded_sample(sample):
    out = stages.aggregate(sample)
    assert out["jobs"] == 11
    assert out["planned_stages"] == 18
    assert out["skipped_stages"] == 7
    assert out["stages"] == 11
    assert out["tasks"] == 20
    assert out["executor_run_s"] == pytest.approx(5.406)
    assert out["input_rows"] == 76_500
    assert out["input_mb"] == pytest.approx(12_443 / stages.MB)
    assert out["shuffle_write_mb"] == pytest.approx(1_209_118 / stages.MB)
    assert out["shuffle_read_mb"] == pytest.approx(1_646_807 / stages.MB)
    assert out["output_rows"] == 0 and out["spill_mb"] == 0.0
    # stages 6 (429/437 ms) and 14 (373/379 ms) qualify; 6 is the worst
    assert out["task_skew"] == pytest.approx(437 / 429)


def test_stage_run_by_an_earlier_group_is_not_counted(sample):
    reused = copy.deepcopy(sample)
    early = copy.deepcopy(reused["stages"]["3"][0])
    early.update(stageId=99, submissionTime="2026-10-16T23:54:20.000GMT",
                 executorRunTime=10_000)
    reused["stages"]["99"] = [early]
    reused["jobs"][0]["stageIds"].append(99)
    out = stages.aggregate(reused)
    assert out["stages"] == 11
    assert out["executor_run_s"] == pytest.approx(5.406)
    assert out["planned_stages"] == 19


def test_skew_ignores_short_stages(sample):
    short = copy.deepcopy(sample)
    short["summaries"] = {"12/0": {"quantiles": [0.5, 1.0], "executorRunTime": [26.0, 300.0]}}
    assert stages.aggregate(short)["task_skew"] == 0.0


def test_empty_group():
    out = stages.aggregate({"jobs": [], "stages": {}, "summaries": {}})
    assert out["jobs"] == 0 and out["stages"] == 0 and out["task_skew"] == 0.0


def test_only_long_stages_get_a_task_summary(sample):
    long_stage = sample["stages"]["6"][0]  # 1678 ms over 4 tasks
    short_stage = sample["stages"]["12"][0]  # 105 ms over 4 tasks
    assert stages._may_be_skewed(long_stage)
    assert not stages._may_be_skewed(short_stage)
