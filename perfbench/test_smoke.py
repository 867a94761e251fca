"""Smoke test of the benchmark itself, at tiny input sizes (a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(out: dict, listed: list[dict]) -> None:
    assert set(out["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


def test_benchmark_json_lists_what_the_runner_prints():
    sys.path.insert(0, ROOT)
    from perfbench import run, workloads

    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in SPEC["workloads"]} <= set(workloads.WORKLOADS)


@pytest.mark.parametrize("seed", [0, 1, 1377971206])
def test_events_always_hold_heavy_hitters(seed):
    sys.path.insert(0, ROOT)
    from ndto_spark.queries import _HH_THRESHOLD
    from perfbench import gen

    n = gen.table_rows("events", 0.001)
    counts = gen.events(n, seed).column("user_id").value_counts()
    per_user = sorted(c.as_py() for c in counts.field("counts"))
    assert sum(per_user) == n
    assert per_user[0] < _HH_THRESHOLD <= per_user[-1]


@pytest.mark.parametrize("workload", ["images", "calls"])
def test_end_to_end_metrics_printed(workload):
    out = result(bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                       "--scale", "tiny"))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert_metrics(out, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_per_layer_metrics():
    out = result(bench(ROOT, "--workload", "operators", "--seed", "3", "--seconds", "1",
                       "--trace", "1", "--scale", "tiny"))
    assert out["correct"]
    assert_metrics(out, SPEC["per_layer"])
    assert out["metrics"]["op.asof_join_events.build_s"]["value"] > 0


def test_corrupted_output_is_a_failed_op():
    out = result(bench(ROOT, "--workload", "calls", "--seed", "3", "--seconds", "1",
                       "--scale", "tiny", "--corrupt-job", "1"))
    assert out["failed"] == 1 and not out["correct"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = bench(str(tmp_path), "--workload", "images", "--seed", "1", "--seconds", "1",
                 "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
