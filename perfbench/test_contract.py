"""The launcher prints exactly the metrics BENCHMARK.json declares.

Run: ``python3 -m pytest perfbench/test_contract.py -q -p no:cacheprovider``
"""

from __future__ import annotations

import json
import os
import sys

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def test_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert all(m["unit"] == "s" for m in bench["end_to_end"])
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
