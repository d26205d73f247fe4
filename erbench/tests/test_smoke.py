"""Smoke test of the benchmark at a tiny input size.

    python3 -m pytest erbench/tests -q

Each case starts its own Spark driver (about a minute each).
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
PAGES = "800"


def bench(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, "erbench/run.py", "--seed", "5", "--seconds", "1", "--pages", PAGES, *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(res: dict, declared: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in declared} == {
        name: m["unit"] for name, m in res["metrics"].items()
    }
    assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_printed_with_unit(workload):
    res = result(bench("--workload", workload, "--trace", "0"))
    assert res["correct"] and res["failed"] == 0, res
    assert_metrics(res, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_prints_every_layer_metric():
    res = result(bench("--workload", "er_sparse", "--trace", "1"))
    assert res["correct"], res
    assert_metrics(res, SPEC["per_layer"])
    values = {k: m["value"] for k, m in res["metrics"].items()}
    # the traced iteration ran every ER stage and the ingest call
    for layer in ("features", "blocks", "pairs", "edges", "components", "clusters", "ingest.batch"):
        assert values[f"{layer}.wall_s"] > 0 and values[f"{layer}.tasks"] > 0, layer


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_output_fails_the_check(workload):
    res = result(bench("--workload", workload, "--trace", "0", "--corrupt"))
    assert not res["correct"]
    assert res["failed"] >= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "erbench"), tmp_path / "erbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = bench("--workload", "er_sparse", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
