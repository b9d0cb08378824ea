"""Smoke test of the benchmark itself: every workload at a tiny size, traced
and untraced. Fails unless every metric BENCHMARK.json names is emitted and
non-zero where the layer map says the layer runs, and no op failed.

    python3 -m pytest tsbench/test_smoke.py -q      # from the repository root
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
NONZERO: dict[str, set] = {m["name"]: set() for m in SPEC["per_layer"]}


def run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "tsbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload(workload, trace):
    res, out = run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert math.isfinite(got["value"]), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
        elif got["value"] != 0:
            NONZERO[m["name"]].add(workload)
        elif workload in layers.LAYER_MAP[m["name"]][1]:
            pytest.fail(f"{m['name']} reads 0 on {workload}")
    if trace:
        assert re.search(r"unattributed_jobs=0\b", out), "a Spark job was left unattributed"


def test_every_layer_metric_seen():
    """Runs after the parametrized cases (pytest keeps file order)."""
    if not all(NONZERO.values()) and any(NONZERO.values()):
        missing = sorted(k for k, v in NONZERO.items() if not v)
        pytest.fail(f"per-layer metrics zero on every workload: {missing}")


def test_fails_outside_a_checkout():
    """In a directory holding only the benchmark, the run must fail fast
    and print no result."""
    import shutil

    bare = os.path.join(ROOT, ".tsbench_work", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for d in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, d), os.path.join(bare, d),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "tsbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and not p.stdout.strip()
