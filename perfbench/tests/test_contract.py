"""BENCHMARK.json lists exactly the metrics run.py prints, with the same
units."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match():
    got = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert got == run.E2E_UNITS


def test_per_layer_metrics_match():
    got = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert got == run.LAYER_UNITS


def test_workloads_match():
    import workloads

    assert [w["name"] for w in _bench()["workloads"]] == list(workloads.WORKLOADS)
