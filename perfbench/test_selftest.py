"""Self-test of the benchmark: every workload at sf0.001 with a handful of
steps. Run from the repository root::

    python3 -m pytest perfbench/test_selftest.py -q

Each run starts its own Spark session, so the file takes a few minutes.
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

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
ALL_WORKLOADS = ("dash_sf01", "tail_x10", "ingest_docs", "churn_sf01")


def bench(workload: str, seed: int, trace: int):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "60", "--trace", str(trace),
         "--sf", "0.001", "--max-steps", "3"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def plan_digest(workload: str, seed: int) -> str:
    from harness import digest
    from workloads import WORKLOADS

    class Ctx:
        spark, sf = None, 0.001

    Ctx.seed = seed
    return digest(WORKLOADS[workload](Ctx).plan())


def test_benchmark_workloads_are_known():
    assert {w["name"] for w in SPEC["workloads"]} <= set(ALL_WORKLOADS)


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_end_to_end_metrics(workload):
    info, out = bench(workload, 1, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1 and out["failed"] == 0, info["failures"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == E2E
    # the digest printed by the run is the plan's, reproducible from the seed
    assert info["digest"] == plan_digest(workload, 1)
    assert info["digest"] != plan_digest(workload, 2)


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_traced_run_span_tree(workload):
    info, out = bench(workload, 2, 1)
    assert out["failed"] == 0, info["failures"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == LAYER
    with open(os.path.join(ROOT, info["spans"])) as f:
        spans = {s["id"]: s for s in json.load(f)}
    assert spans
    kids: dict = {}
    for s in spans.values():
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            assert parent["op"] == s["op"]
            kids.setdefault(parent["id"], []).append(s)
    for s in spans.values():
        assert s["ms"] - sum(c["ms"] for c in kids.get(s["id"], ())) >= -1e-6
    assert out["metrics"]["trace.coverage"]["value"] > 0.75


def test_metric_set_does_not_depend_on_seed():
    _, a = bench("dash_sf01", 3, 0)
    _, b = bench("dash_sf01", 4, 0)
    assert set(a["metrics"]) == set(b["metrics"])
    assert plan_digest("dash_sf01", 3) == plan_digest("dash_sf01", 3)
