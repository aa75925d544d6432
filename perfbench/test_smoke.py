"""Toy-size smoke of each workload and checks of the benchmark's contract.

    python3 -m pytest perfbench/test_smoke.py -q

The toy size is a 4,608-trace cube (three reads per op) and three queries
at sf=0.001; each run starts its own Spark session, so the module takes a
few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import workloads  # noqa: E402


def _run(cwd: Path, workload: str, trace: int, *extra: str):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_toy_run_prints_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace, "--size", "toy")
    assert proc.returncode == 0, proc.stderr[-3000:]
    info_line, result_line = proc.stdout.strip().splitlines()[-2:]
    result, info = json.loads(result_line), json.loads(info_line)

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    catalog = metrics.PER_LAYER if trace else metrics.END_TO_END
    units = {name: m["unit"] for name, m in result["metrics"].items()}
    assert units == {name: spec[0] for name, spec in catalog.items()}
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())

    detail = info["detail"]
    assert detail["error_rate"]["value"] == 0
    for name, (unit, names) in metrics.DETAIL.items():
        if workload in names:
            assert detail[name]["unit"] == unit, name
    assert info["host"]["loadavg_1m_min"] <= info["host"]["loadavg_1m_max"]


def test_benchmark_json_matches_the_catalogs():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert doc == metrics.benchmark_json()


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, a run
    exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "curation_queries", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
