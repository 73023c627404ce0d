"""BENCHMARK.json names exactly the metrics and workloads the run prints."""

import json
import os

from lakebench import run
from lakebench.trace import LAYER_UNITS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(run.E2E_NAMES)
    assert bench["command"][1] == "lakebench/run.py" and bench["paths"] == ["lakebench"]
