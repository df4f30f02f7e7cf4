"""Self-test of the benchmark at tiny scale.

Every workload runs once untraced and once traced with ``--tiny``; each
run must pass its correctness gate and print every metric that
``BENCHMARK.json`` names, with its unit. A copy of the benchmark without
the engine beside it must refuse to run.

    python3 -m pytest perfbench/test_selftest.py -q -p no:cacheprovider
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "2",
         "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_reports_every_metric(workload, trace, kind):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
    assert res["correct"] is True and res["failed"] == 0, proc.stdout[-3000:]
    assert res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert sorted(res["metrics"]) == sorted(want)
    for name, unit in want.items():
        m = res["metrics"][name]
        assert m["unit"] == unit, name
        assert isinstance(m["value"], (int, float)) and m["value"] == m["value"], name
    if kind == "end_to_end":
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_refuses_without_the_engine():
    bare = os.path.join(HERE, ".work", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns(".work", "__pycache__"))
        proc = _run(bare, SPEC["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert not [l for l in proc.stdout.splitlines() if l.startswith("{")]
