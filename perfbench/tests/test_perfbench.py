"""Self-tests of the benchmark: toy-shape smoke runs of every workload
(including the ones BENCHMARK.json does not gate on), and a corrupted
result that validation must catch.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
Each test starts its own Spark session in a subprocess (~30 s each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def _run(args: list[str], code: str | None = None) -> dict:
    cmd = [sys.executable, *(["-c", code] if code else [os.path.join(ROOT, "perfbench", "run.py")]), *args]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_gated_workloads_exist():
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    result = _run(["--workload", workload, "--seed", "5", "--seconds", "0", "--trace", str(trace), "--toy"])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 2
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if trace:
        spans = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed5.jsonl")
        assert os.path.getsize(spans) > 0
    else:
        assert result["metrics"]["ok_ratio"]["value"] == 1.0


# Runs the real measurement with the first pass's result for the planted
# signal perturbed by one part in 1e4, far outside the 1e-6 tolerance.
CORRUPT = """
import dataclasses, sys
sys.path.insert(0, {root!r})
from pyspark.sql import Row
from perfbench import run, workloads

wl = workloads.WORKLOADS["ewas_logistic_grouped"]
calls = []

def corrupted(inp, hook, out_path):
    rows = wl.run_pass(inp, hook, out_path)
    calls.append(1)
    if len(calls) > 1:
        return rows
    signal = sorted(inp.truth.signals)[0]
    return [
        Row(**dict(r.asDict(), Beta=r["Beta"] * (1 + 1e-4))) if r["Variable"] == signal else r
        for r in rows
    ]

workloads.WORKLOADS["ewas_logistic_grouped"] = dataclasses.replace(wl, run_pass=corrupted)
sys.exit(run.main(sys.argv[1:]))
"""


def test_corrupted_beta_drives_ok_ratio_below_one():
    result = _run(
        ["--workload", "ewas_logistic_grouped", "--seed", "5", "--seconds", "0", "--toy"],
        code=CORRUPT.format(root=ROOT),
    )
    assert result["correct"] is False
    ok = result["metrics"]["ok_ratio"]["value"]
    assert ok == pytest.approx((result["attempted"] - 1) / result["attempted"])
    assert ok < 1.0
