"""Smoke test of the benchmark itself: a few ops per workload on tables
generated at sf0.001, in both modes. Every metric must be present with its
unit, and no result may differ from DuckDB.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import E2E_UNITS, LAYER_UNITS  # noqa: E402
from run import WORKLOADS  # noqa: E402


def run_bench(workload: str, trace: int) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001", "--ops", "6"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(HERE),
    )
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_and_no_mismatch(workload, trace):
    rc, res = run_bench(workload, trace)
    assert rc == 0
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    units = LAYER_UNITS if trace else E2E_UNITS
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    assert res["correct"] is True  # zero oracle mismatches
    assert res["attempted"] == 6
    assert res["failed"] == 0
    if not trace:
        for name in ("setup_s", "op_p50_ms", "throughput_ops_s", "peak_rss_mb"):
            assert res["metrics"][name]["value"] > 0


def test_without_engine_sources_fails_without_result(tmp_path):
    os.mkdir(tmp_path / "perfbench")
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            with open(os.path.join(HERE, f)) as src:
                (tmp_path / "perfbench" / f).write_text(src.read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "nsql_loop",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=60, cwd=tmp_path,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
