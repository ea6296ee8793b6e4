"""Smoke test of the benchmark itself: every workload at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q     (from the repo root)

Each untraced run must print every end-to-end metric the workload
names, with unit and sample count, and pass all its output checks;
each traced run must print every per-layer metric, and its spans must
nest (self time >= 0, children inside their parent).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402
from run import parse_named  # noqa: E402

NAMED = {
    "dashboard": ["req_per_s", "report_p50_ms", "lookup_p50_ms"],
    "sync": ["records_per_s", "rows_per_s", "docs_per_s", "tick_p50_ms",
             "cycle_p50_ms", "batch_p50_ms", "readback_p50_ms"],
}
COMMON = ["setup_s", "peak_rss_mb", "ok_ratio"]


def _run(workload: str, trace: int):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--trace", str(trace), "--smoke"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", list(spec.WORKLOADS))
def test_untraced_run_prints_named_metrics_and_passes_checks(workload):
    lines, result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(spec.END_TO_END)
    assert result["metrics"]["ok_ratio"]["value"] == 1.0
    for name, m in result["metrics"].items():
        assert m["unit"] == spec.END_TO_END[name][0]
        assert m["value"] > 0, name
    printed = parse_named(workload, lines)
    for name in COMMON + NAMED[workload]:
        assert name in printed, name
        assert printed[name][2] >= 1
    assert printed["ok_ratio"][0] == 1.0


@pytest.mark.parametrize("workload", list(spec.WORKLOADS))
def test_traced_run_prints_per_layer_metrics_with_nested_spans(workload):
    lines, result = _run(workload, 1)
    assert set(result["metrics"]) == set(spec.PER_LAYER)
    for name, m in result["metrics"].items():
        assert m["unit"] == spec.PER_LAYER[name]
    detail = json.loads(next(x for x in lines if x.startswith("detail "))[7:])
    assert "nesting_violations" not in detail
    # correct also requires an empty nesting-violation list
    assert result["correct"]
    assert result["metrics"]["py4j.calls_per_op"]["value"] > 0
    assert result["metrics"]["spark.jobs_per_op"]["value"] > 0
