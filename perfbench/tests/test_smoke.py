"""Smoke test of the benchmark itself, on a tiny corpus with one timed op
per workload (one untraced/traced pair when tracing):

    python3 -m pytest perfbench/tests -q

Checks that the result line parses, that every metric BENCHMARK.json
names is produced and printed with its unit, that every op passed its
check, and that the traced run writes spans and every per-layer key.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(trace: int) -> list[dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.5", "--max-ops", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return [json.loads(line) for line in out.stdout.strip().splitlines()]


@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric(trace):
    names = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    lines = _run(trace)
    per_workload = {x["workload"]: x for x in lines if "workload" in x}
    contexts = [x["context"] for x in lines if "context" in x]
    assert set(per_workload) == set(WORKLOADS)
    assert all(not ctx["missing"] for ctx in contexts), contexts
    for w, res in per_workload.items():
        assert set(res) == {"workload", "correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (w, contexts)
        assert {n: m["unit"] for n, m in res["metrics"].items()} == names
        assert all(isinstance(m["value"], float) for m in res["metrics"].values())
    final = lines[-1]
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"]
    if trace:
        for ctx in contexts:
            with open(ctx["spans_path"]) as f:
                spans = json.load(f)
            assert spans and all(
                set(s) == {"op", "name", "start", "end", "parent"} for s in spans
            )
            assert any(s["name"] == ctx["workload"] for s in spans)
