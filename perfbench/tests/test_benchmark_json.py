"""``BENCHMARK.json`` names exactly the workloads and metrics that
``run.py`` runs and prints, with the same units.

    python -m pytest perfbench/tests -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def load():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_match_the_runner():
    doc = load()
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == PER_LAYER
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)


def test_setup_bound_is_the_largest():
    bounds = {m["name"]: m["bound"] for m in doc_end_to_end()}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def doc_end_to_end():
    return load()["end_to_end"]
