"""Smoke test of the benchmark itself: every workload at a tiny size
(including ``blocking_sweep``, which BENCHMARK.json does not list), in both
modes, prints every metric BENCHMARK.json names with its unit and fails
no iteration; without the engine beside it the benchmark fails.

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
sys.path.insert(0, ROOT)
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(cwd: str, workload: str, trace: int, entities: int = 200):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "42",
           "--seconds", "1", "--trace", str(trace), "--entities", str(entities)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_reports_every_metric(workload, trace):
    proc = run_bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail_line, result_line = proc.stdout.strip().splitlines()
    result = json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    detail = json.loads(detail_line)["detail"]
    assert detail["failed_share"] == {"value": 0.0, "unit": "fraction"}
    assert detail["jvm_peak_rss_mb"]["unit"] == "MB"
    assert {"nproc", "load1_start", "load1_end", "steal_s", "pgmajfault"} <= set(detail["host"])
    if trace:
        calls = got["properties.objects"]["value"]
        ckpt = got["checkpoint.stage_s"]["value"]
        assert (calls == 0) == (workload == "blocking_sweep")
        assert (ckpt > 0) == (workload == "flagship_ckpt")


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
