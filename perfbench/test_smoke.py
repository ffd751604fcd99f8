"""Smoke test of the benchmark at sf0.001 with the shortest run.

Run from the repository root: ``python3 -m pytest perfbench/test_smoke.py -q``
(about four minutes on four cores; it starts one SparkSession per case).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload]
    cmd += ["--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> tuple[list[str], dict]:
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def assert_metrics(lines: list[str], res: dict, spec: list[dict]) -> None:
    printed = {ln.split()[0]: ln.split()[2] for ln in lines[:-1] if len(ln.split()) >= 3}
    for m in spec:
        assert printed.get(m["name"]) == m["unit"], m["name"]
        assert res["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    assert set(res["metrics"]) == {m["name"] for m in spec}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_clean_outputs(workload):
    lines, res = result(bench(workload, 0))
    assert_metrics(lines, res, SPEC["end_to_end"])
    assert any(ln.startswith("error_rate 0 ratio") for ln in lines)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0


@pytest.mark.parametrize("workload", ["etl_medallion", "query_heavy"])
def test_traced_run_emits_every_layer_metric(workload):
    lines, res = result(bench(workload, 1))
    assert_metrics(lines, res, SPEC["per_layer"])
    assert res["failed"] == 0


def test_wrong_expected_hash_is_a_failed_op(tmp_path):
    with open(os.path.join(HERE, "expected.json"), encoding="utf-8") as f:
        pinned = json.load(f)
    pinned["sf0.001"]["q6_revenue_change"][1] = "0" * 16
    wrong = tmp_path / "expected.json"
    wrong.write_text(json.dumps(pinned))
    lines, res = result(bench("query_floor", 1, "--expected", str(wrong)))
    assert res["failed"] == 1 and not res["correct"]
    assert any(ln.startswith("error_rate ") and not ln.startswith("error_rate 0 ") for ln in lines)
    assert_metrics(lines, res, SPEC["per_layer"])


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = bench("query_floor", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
