"""The benchmark's own test: tiny sizes, every metric, every check.

    python3 -m pytest perfbench/test_bench.py -q

Each workload runs once in smoke mode with tracing on. The test
asserts that the result line carries exactly the per-layer metrics
with their units, that the report carries every end-to-end metric,
that every correctness check of the workload ran and passed, and that
BENCHMARK.json names the same workloads and metrics. A last case runs
the benchmark in a directory holding only BENCHMARK.json and
perfbench/, where it must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

CHECKS = {
    "kv_serve": {"responses", "scan_pages", "durability"},
    "spark_mix": {"ts_reads_untraced", "ts_reads_before", "ts_reads_after",
                  "ts_final_state", "oracle"},
}


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(CHECKS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER


@pytest.mark.parametrize("workload", list(CHECKS))
def test_smoke(workload):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "2",
             "--trace", "1", "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == metrics.PER_LAYER
    assert set(report["end_to_end"]) == set(metrics.END_TO_END)
    assert all(v > 0 for v in report["end_to_end"].values())
    assert set(report["checks"]) == CHECKS[workload]
    assert all(c["attempted"] > 0 and c["failed"] == 0
               for c in report["checks"].values())
    assert result["metrics"]["trace.overhead_ratio"]["value"] > 0
    if workload == "kv_serve":
        layers = result["metrics"]
        assert layers["store.live_dirs_mean"]["value"] > 1
        assert layers["store.compactions"]["value"] >= 1


def test_end_to_end_result_line():
    p = _run(ROOT, "--workload", "kv_serve", "--seed", "4", "--seconds", "2",
             "--trace", "0", "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == metrics.END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_fails_without_the_package():
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(d, "--workload", "kv_serve", "--seed", "1", "--seconds", "1",
                 "--trace", "0")
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
