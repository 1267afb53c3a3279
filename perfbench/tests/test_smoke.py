"""Tiny-size smoke test of the benchmark.

Every workload (the two listed in BENCHMARK.json and `bulk`) runs at the
"tiny" input size, untraced and traced: the result line carries exactly the
metrics BENCHMARK.json names, with their units, every answer is right, and
the traced run's span log covers exactly the layers the workload calls.
About six one-minute runs:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["bulk"]
SEED = 987654321  # a nine-digit seed: the id arithmetic must not overflow

LAYERS_CALLED = {
    "ingest": {"sources.spans", "functions.hexgrid", "functions.s2",
               "operators.spatial_join", "operators.knn", "operators.tiles",
               "operators.audit", "plans.checkpoint", "plans.layout"},
    "lookup": {"plans.checkpoint", "operators.spatial_join", "operators.knn",
               "operators.radius_join", "operators.tiles"},
    "bulk": {"operators.spatial_join", "operators.knn",
             "operators.radius_join"},
}


def run(workload: str, trace: int, cwd: str = ROOT):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


def result_of(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    r = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, \
        p.stderr[-3000:]
    return r


def units(r: dict) -> dict:
    return {k: v["unit"] for k, v in r["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_reports_every_end_to_end_metric(workload):
    r = result_of(run(workload, 0))
    assert units(r) == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_the_layers_it_calls(workload):
    r = result_of(run(workload, 1))
    assert units(r) == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    with open(os.path.join(ROOT, ".perfbench", f"{workload}-s{SEED}-t1.json")) as f:
        layers = json.load(f)["layers"]
    called = {k.rsplit(".", 1)[0] for k, v in layers.items()
              if k.endswith(".call_s") and v > 0}
    assert called == LAYERS_CALLED[workload]
    for layer in called:
        assert f"{layer}.jobs" in layers and f"{layer}.task_s" in layers
    if workload != "ingest":
        assert r["metrics"]["operators.knn.jobs"]["value"] > 0
    assert r["metrics"]["operators.spatial_join.call_s"]["value"] > 0


def test_any_integer_seed_owns_an_overflow_free_id_range():
    sys.path.insert(0, ROOT)
    from perfbench.workloads import id_slot

    assert [id_slot(s) for s in (0, 3, 210)] == [0, 3, 210]
    for seed in (987654321, 2**64 + 5, -1):
        base = id_slot(seed) * 1_000_000
        # the largest id times documents_from_ids' largest multiplier
        assert 0 <= base and (base + 10**6) * 1_000_003 < 2**63


def test_run_without_the_engine_fails_fast():
    bare = os.path.join(ROOT, ".perfbench", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in BENCH["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run(WORKLOADS[0], 0, cwd=bare)
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
