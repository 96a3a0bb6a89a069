"""Smoke test of the benchmark: every workload once at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that each run prints every metric of its mode with its unit,
that every output check passed, that ``BENCHMARK.json`` is what
``spec.py`` generates, and that the benchmark refuses to run without
the package next to it. Each run starts Spark (~40 s).
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
sys.path.insert(0, ROOT)

from perfbench import spec  # noqa: E402


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        assert json.load(f) == spec.benchmark_json()


def test_every_per_layer_metric_names_what_it_moves():
    e2e = {m["name"] for m in spec.END_TO_END}
    for m in spec.PER_LAYER:
        moves = [x.strip() for x in m["moves"].split(",")]
        assert all(x in e2e or x.startswith("none") for x in moves), m


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in spec.WORKLOADS])
def test_smoke_run_prints_every_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "7", "--trace", str(trace),
             "--smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = spec.PER_LAYER if trace else spec.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float))
               for v in out["metrics"].values())


def test_refuses_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", spec.WORKLOADS[0]["name"], "--seed", "1",
             "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
