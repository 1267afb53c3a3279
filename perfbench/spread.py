#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload ingest,lookup,bulk --seeds 1 \
        --out results.jsonl
    python3 perfbench/spread.py --workload lookup --seeds 1-10 \
        --out perfbench/runs/lookup.jsonl

Every run's result line (plus its process wall time) is appended to
``--out``.  At the end, for each workload, the spread of each metric --
the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median -- is
printed next to the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    help="one workload or a comma-separated list")
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--label", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    rows = []
    for workload in args.workload.split(","):
        for seed in seeds_of(args.seeds):
            rows.append(run_once(bench, workload, seed, args))
    for workload in args.workload.split(","):
        ok = [r["result"] for r in rows
              if r["workload"] == workload and r["result"]]
        if len(ok) < 2:
            continue
        print(f"-- {workload}: {len(ok)} runs")
        for name in ok[0]["metrics"]:
            med, sp = spread([r["metrics"][name]["value"] for r in ok])
            print(f"{name:40s} median {med:12.4f}  spread {sp:6.3f}  "
                  f"bound {bounds.get(name)}")
    print(f"process_s median "
          f"{statistics.median(r['process_s'] for r in rows):.1f}  all correct: "
          f"{all(r['result'] and r['result']['correct'] for r in rows)}")
    return 0


def run_once(bench: dict, workload: str, seed: int, args) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(args.trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    row = {"label": args.label, "workload": workload, "seed": seed,
           "trace": args.trace, "exit": p.returncode,
           "process_s": round(wall, 2), "result": result}
    with open(args.out, "a") as f:
        f.write(json.dumps(row) + "\n")
    print(json.dumps(row), flush=True)
    return row


if __name__ == "__main__":
    sys.exit(main())
