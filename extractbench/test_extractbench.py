"""The benchmark's own tests. From the repo root:

    python -m pytest extractbench -q

The smoke tests start Spark; each takes about a minute.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from extractbench import inputs, run
from extractbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digest(tmp_path, workload: str, seed: int, tag: str) -> str:
    wl = WORKLOADS[workload](str(tmp_path / tag), seed, cores=2, scale=0.05)
    wl.generate()
    return inputs.digest(wl.input_path)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_input_digest(tmp_path, workload):
    assert _digest(tmp_path, workload, 7, "a") == _digest(tmp_path, workload, 7, "b")


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_other_seed_other_input_digest(tmp_path, workload):
    assert _digest(tmp_path, workload, 7, "a") != _digest(tmp_path, workload, 8, "b")


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for name in [*e2e, *layer, *run.WORKLOADS]:
        assert NAME.match(name), name


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "extractbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric(workload, trace):
    result = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
