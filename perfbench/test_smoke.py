"""Smoke test of the benchmark itself, at tiny sizes (`--smoke`).

    python3 -m pytest -q perfbench/test_smoke.py

Checks that every workload runs and passes its correctness gate, that
every metric named in BENCHMARK.json is printed with its unit (per-layer
ones in a traced run), and that a corrupted state cell fails the gate.
Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import REPORT_NAMES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(workload: str, *extra: str, trace: int = 0) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def assert_metrics(out: dict, specs: list[dict]) -> None:
    assert set(out["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", sorted(REPORT_NAMES))
def test_workload_prints_every_metric_and_passes_the_gate(workload):
    out, report = bench(workload)
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    assert_metrics(out, SPEC["end_to_end"])
    thr, thr_unit, p50, tail, _ = REPORT_NAMES[workload]
    line = report[-1]
    for name in (thr, p50, tail, "setup_s", "failed_frac"):
        assert f"{name}=" in line, (name, line)
    assert f" {thr_unit}" in line


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_prints_every_per_layer_metric(workload):
    out, report = bench(workload, trace=1)
    assert out["correct"] is True
    assert_metrics(out, SPEC["per_layer"])
    printed = {line.split(" = ")[0].strip() for line in report if " = " in line}
    assert {"trace.overhead.latency_p50_ms", "spark.tasks", "host.probe_s"} <= printed


@pytest.mark.parametrize("workload", ["cdc_backfill", "cdc_live_tail"])
def test_corrupted_state_cell_fails_the_gate(workload):
    out, _ = bench(workload, "--corrupt-state")
    assert out["correct"] is False
    assert out["failed"] > 0
