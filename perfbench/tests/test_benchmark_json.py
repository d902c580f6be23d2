"""BENCHMARK.json and the runner name the same workloads and metrics."""

import json
import os

from perfbench.run import END_TO_END, PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_and_units_match_the_runner():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


def test_setup_bound_is_the_largest():
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
