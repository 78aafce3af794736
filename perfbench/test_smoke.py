"""Smoke test of the benchmark itself, at sf0.001.

Runs every workload once untraced and once traced on a tiny input and
asserts that the run exits 0, that its checks pass, and that every
metric the benchmark names is printed with its unit. Run from the
repository root:

    python3 -m pytest perfbench/test_smoke.py -q
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

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
DRIVER_WORKLOADS = [w["name"] for w in SPEC["workloads"]]
E2E = {w: {m["name"] for m in SPEC["end_to_end"]} for w in DRIVER_WORKLOADS}
E2E["text_dedup"] = {"setup_s", "peak_rss_mb", "dedup_batch_s"}


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["geotag_bulk", "spatial_requests", "text_dedup"])
def test_untraced_prints_every_end_to_end_metric(workload):
    res = run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == E2E[workload]
    for m in res["metrics"].values():
        assert m["unit"] and m["value"] > 0


@pytest.mark.parametrize("workload", ["geotag_bulk", "spatial_requests", "text_dedup"])
def test_traced_prints_every_per_layer_metric(workload):
    import workloads

    res = run(workload, 1)
    assert res["correct"] and res["failed"] == 0
    if workload in DRIVER_WORKLOADS:
        assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    else:
        layers = workloads.TEXT_LAYERS + ("run",)
        assert {k.split(".")[0] for k in res["metrics"]} == set(layers)
