"""Smoke test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload (the two in ``BENCHMARK.json`` and ``steady_freshness``)
once untraced and once traced through ``run.py`` and checks the JSON
contract against ``BENCHMARK.json``; the other tests cover
the generator and the span arithmetic without Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]] + ["steady_freshness"])
def test_workload_meets_the_output_contract(workload):
    untraced = _run(workload, 0)
    assert untraced["correct"] and untraced["failed"] == 0 and untraced["attempted"] >= 1
    assert set(untraced["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in untraced["metrics"].values())
    traced = _run(workload, 1)
    assert traced["correct"] and traced["failed"] == 0
    assert set(traced["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    assert traced["metrics"]["spark.jobs"]["value"] > 0
    spans_file = os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed3-spans.json")
    with open(spans_file) as f:
        doc = json.load(f)
    assert doc["spans"] and all(s["end"] >= s["start"] for s in doc["spans"])


def test_generator_is_deterministic(tmp_path):
    spec = gen.scaled(gen.SnapshotSpec(), 0.02)
    a = gen.make_snapshot_inputs(str(tmp_path / "a"), 5, spec)
    b = gen.make_snapshot_inputs(str(tmp_path / "b"), 5, spec)
    for x, y in zip(a, b):
        assert np.array_equal(gen.row_hashes(x.expected, x.columns), gen.row_hashes(y.expected, y.columns))
        assert x.log_tip == y.log_tip


def test_row_hashes_ignore_order_and_dtype():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.0]})
    b = pd.DataFrame({"k": [2.0, 1.0], "v": [2.0, 1.5]}).astype({"k": "int64"})
    assert np.array_equal(gen.row_hashes(a, ["k", "v"]), gen.row_hashes(b, ["k", "v"]))


def test_self_time_subtracts_children():
    doc = [
        {"id": 0, "name": "bench.pass", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "hybrid.snapshot_phase", "parent": 0, "start": 1.0, "end": 6.0},
        {"id": 2, "name": "hybrid.chunk", "parent": 1, "start": 2.0, "end": 4.0},
        {"id": 3, "name": "sink.merge", "parent": 0, "start": 5.0, "end": 9.0},
    ]
    st = spans.self_times(doc)
    assert st == {"bench": 2.0, "hybrid": 5.0, "sink": 4.0}
    assert spans.uncovered_share(doc[1:], 0.0, 10.0) == pytest.approx(0.2)
