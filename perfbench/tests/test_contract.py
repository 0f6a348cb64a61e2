"""BENCHMARK.json names exactly what run.py prints."""

import json
import os

import layers
import run

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
                    "BENCHMARK.json")


def test_metric_names_and_units_match_the_runner():
    with open(SPEC) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.contract_names()
    assert {w["name"] for w in spec["workloads"]} == set(__import__("workloads").WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
