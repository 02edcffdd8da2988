"""BENCHMARK.json names exactly the workloads and metrics the run reports."""

import json
import os

from perfbench.bench import E2E_UNITS, LAYER_UNITS
from perfbench.workloads import DROPPED, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    doc = _manifest()
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert not set(DROPPED) & set(WORKLOADS)


def test_metrics_match_reported_units():
    doc = _manifest()
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == LAYER_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
