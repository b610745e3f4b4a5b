"""BENCHMARK.json agrees with what run.py prints."""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def test_metric_sets_and_units_match_the_runner():
    assert [m["name"] for m in BENCH["end_to_end"]] == list(run.END_TO_END_UNITS)
    for m in BENCH["end_to_end"]:
        assert m["unit"] == run.END_TO_END_UNITS[m["name"]]
        assert 0 < m["bound"] <= 0.25
    assert run.per_layer_names() == [m["name"] for m in BENCH["per_layer"]]
    for m in BENCH["per_layer"]:
        assert m["unit"] == run.per_layer_unit(m["name"])


def test_gated_workloads_are_defined():
    for w in BENCH["workloads"]:
        spec = run.WORKLOADS[w["name"]]
        assert spec.get("queries") or spec.get("layout")


def test_refuses_to_run_without_the_program(tmp_path):
    # a directory holding only BENCHMARK.json and the benchmark's files
    subprocess.run(["cp", "-r", os.path.join(ROOT, "BENCHMARK.json"), HERE, str(tmp_path)],
                   check=True)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "batch_queries",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == b""
