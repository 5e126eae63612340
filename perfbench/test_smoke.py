"""Smoke test for the benchmark: every workload on tiny inputs, untraced and
traced. Asserts that every metric BENCHMARK.json names is printed with its
unit, that no op failed, and that the report carries the workload-specific
figures.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes: each run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

REPORT_FIGURES = {
    "pyramid_build": ["fail_ratio", "tile_features_per_s"],
    "serve_and_analytics": ["fail_ratio", "read_ms", "read_p90_ms", "viewport_ms",
                            "edit_session_s", "analytics_op_ms"],
}


def _run(workload: str, trace: int):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                              "--trace", str(trace), "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-2].startswith("PERFBENCH_REPORT ")
    return json.loads(lines[-2].split(" ", 1)[1]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric(workload, trace):
    report, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], float)
    if not trace:
        for name, metric in got.items():
            assert metric["value"] > 0, name
    assert report["fail_ratio"] == {"value": 0.0, "unit": "ratio"}
    for name in REPORT_FIGURES[workload]:
        assert "unit" in report[name], name
    for key in ("nproc", "spark_cores", "ram_gb", "spark", "pyarrow", "python",
                "git_sha", "steal_cpu_pct", "system_cpu_pct", "cpu_probe_ms"):
        assert key in report["host"], key
    # set-up is made several times and every time is reported
    assert all(len(reps) >= 2 for reps in report["setup_reps_s"].values())


def test_refuses_to_run_without_the_library(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        BENCH["command"] + ["--workload", "pyramid_build", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
