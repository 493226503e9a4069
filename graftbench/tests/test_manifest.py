"""``BENCHMARK.json`` must name exactly the workloads and per-layer
metrics the benchmark runs and prints."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def manifest() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in manifest()["workloads"]] == list(WORKLOADS)


def test_per_layer_metrics_match_names_and_units():
    per_layer = manifest()["per_layer"]
    assert [m["name"] for m in per_layer] == layers.names()
    assert all(m["unit"] == layers.unit_of(m["name"]) for m in per_layer)
