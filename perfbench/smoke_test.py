"""Tiny-size smoke test of the benchmark: every workload, untraced and
traced, at toy sizes, in about five minutes on 4 cores.

    python3 -m pytest perfbench/smoke_test.py -q
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

TINY = {
    "warehouse_queries": {"sf": 0.01},
    "medallion_pipeline": {"symbols": 4, "days": 25},
}


def _bench() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_tiny_run(workload, trace, monkeypatch):
    monkeypatch.setattr(run, "WORKLOADS", TINY)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                         "--trace", str(trace)]) == 0
    lines = out.getvalue().strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = _bench()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    # the known-defect probes always print, whatever their result
    defects = [ln for ln in lines if ln.startswith("known-defect ")]
    assert defects
    assert not os.path.exists(os.path.join(run.ROOT, ".perfbench_work", f"{workload}-s3-p{os.getpid()}"))
