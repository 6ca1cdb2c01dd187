"""BENCHMARK.json names exactly the metrics perfbench/run.py reports."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_match_the_result_line():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END


def test_per_layer_metrics_match_the_traced_result_line():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
