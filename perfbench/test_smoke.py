"""Smoke test: every workload at tiny sizes, asserting that each metric
is printed with its unit and that the outputs pass their checks.

    python3 -m pytest perfbench/test_smoke.py -q

Each case is one benchmark process (JVM start included), about a minute
on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import PER_LAYER_COMMON, PER_LAYER_CURATE, PER_LAYER_SEQUENCE  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

#: every end-to-end metric the detail line must carry, per workload
DETAIL = {
    "search": {"setup_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB", "error_rate": "ratio", "queries_per_s": "1/s"},
    "probe": {"setup_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB", "error_rate": "ratio", "queries_per_s": "1/s"},
    "curate": {"setup_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB", "error_rate": "ratio", "docs_per_s": "1/s"},
}


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail, result = proc.stdout.strip().splitlines()
    return json.loads(detail), json.loads(result)


def _assert_units(metrics: dict, want: dict) -> None:
    assert set(metrics) == set(want)
    for name, unit in want.items():
        assert metrics[name]["unit"] == unit, name
        assert isinstance(metrics[name]["value"], float), name


def _assert_clean(result: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1


@pytest.mark.parametrize("workload", ["search", "probe", "curate"])
def test_end_to_end_metrics(workload):
    detail, result = _run(workload, 0)
    _assert_clean(result)
    _assert_units(result["metrics"], {m["name"]: m["unit"] for m in SPEC["end_to_end"]})
    for name, unit in DETAIL[workload].items():
        assert detail["metrics"][name]["unit"] == unit, name
    assert detail["metrics"]["error_rate"]["value"] == 0.0
    assert detail["settings"]["task_slots"] <= os.cpu_count()


@pytest.mark.parametrize("workload", ["search", "probe", "curate"])
def test_traced_metrics(workload):
    detail, result = _run(workload, 1)
    _assert_clean(result)
    layers = PER_LAYER_CURATE if workload == "curate" else PER_LAYER_SEQUENCE
    _assert_units(result["metrics"], {**PER_LAYER_COMMON, **layers})
    if workload != "curate":
        assert {m["name"] for m in SPEC["per_layer"]} == set(result["metrics"])
    with open(os.path.join(ROOT, ".perfbench", "results", f"{workload}-seed7-trace.json")) as f:
        side = json.load(f)
    assert "trace_overhead_s" in side["detail"]
    assert side["spans"] and side["self_s_p50"]
    assert {"name", "start", "end", "parent", "op", "jobs", "tasks", "self_s"} <= set(side["spans"][0])
    assert any(s["name"] == "op.traced" for s in side["spans"])
