"""BENCHMARK.json, workloads.json and run.py agree; outside a checkout the
benchmark refuses to run."""

import json
import os
import shutil
import subprocess
import sys

from perfbench import run

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
CFG = json.load(open(os.path.join(HERE, "workloads.json")))


def test_metric_names_and_units_match():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.LAYER_UNITS


def test_workloads_match():
    names = [w["name"] for w in BENCH["workloads"]]
    assert all(CFG[n]["kind"] in ("batch", "stream") for n in names)
    keys = {k for n in names if CFG[n]["kind"] == "batch" for k in CFG[n]["queries"]}
    assert keys == set(run._QUERY_KEYS)
    assert all(set(CFG[n].get("queries", ())) <= set(CFG["query_inputs"])
               for n in CFG if n != "query_inputs")


def test_refuses_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_table",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""
