#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 20 --trace 0

Run from the repository root (or any checkout of it).  The run starts one
`build_session(cores=nproc)` session, sets its workload up, repeats the
workload's timed operation for ``--seconds`` (at least twice), checks every
answer against `perfbench/reference.py`, stops Spark and its JVM, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (see `tracing.py`).  Every file the run
writes lives under ``.perfbench/`` in the checkout; the span log of the run
is left there as ``.perfbench/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
MIN_OPS = 2

# per-layer metrics on the result line of a traced run.  Times are listed
# only for layers that both listed workloads call in their timed region (a
# layer a workload never calls would report a constant 0 s); work counts are
# listed for every layer and read 0 where the workload does not call it.
# The span log holds every metric of every layer the workload calls.
def _named(layers, metrics, unit):
    return {f"{layer}.{m}": unit for layer in layers for m in metrics}


_BOTH = ("operators.spatial_join", "operators.tiles", "operators.knn")
_ANY = _BOTH + ("operators.radius_join", "operators.audit", "sources.spans",
                "plans.layout")
PER_LAYER = {
    **_named(_BOTH, ("call_s", "task_s"), "s"),
    **_named(_BOTH[:2], ("exec_s",), "s"),
    "operators.spatial_join.python_s": "s",
    "plans.checkpoint.call_s": "s",
    **_named(_BOTH, ("idle_frac",), "ratio"),
    **_named(_ANY, ("jobs", "rows_out"), "count"),
    **_named(_ANY[:4] + ("plans.layout",), ("shuffle_bytes",), "B"),
    "plans.checkpoint.jobs": "count",
    "plans.checkpoint.bytes_written": "B",
    "trace.failed_tasks": "count",
    "trace.spill_bytes": "B",
    "trace.op_p50_s": "s",
    "trace.uncovered_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def vm_hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant -- the JVM and its Python workers -- including the
    children they have already reaped.  Stolen time is not counted."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we scanned
            continue
        # fields[1] is the ppid; [11:15] utime, stime, cutime, cstime
        stats[int(name)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / tick


def start_spark(name: str, work: str, trace: bool):
    from osmspark.session import build_session
    from perfbench.tracing import TRACE_CONF

    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    # keep Spark's scratch files, the JVMs' temp and perf-data files and
    # the Python workers' temp files inside the checkout; workers import
    # osmspark from it
    os.environ.pop("OSMSPARK_KNN_DEBUG", None)  # its prints would be timed
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(TRACE_CONF)
    cores = len(os.sched_getaffinity(0))
    return build_session(f"perfbench-{name}", cores=cores,
                         extra_conf=conf), cores


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import osmspark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        from pyspark import SparkContext

        spark, cores = start_spark(args.workload, work, bool(args.trace))
        session_s = time.perf_counter() - t0
        jvm_pid = SparkContext._gateway.proc.pid
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.size)
        wl.setup()
        setup_s = time.perf_counter() - t0
        t_start, i = time.perf_counter(), 0
        try:
            while i < MIN_OPS or time.perf_counter() - t_start < args.seconds:
                cpu0 = tree_cpu_s()
                with tracer.op(args.workload) as rec:
                    wl.op(i)
                rec["cpu_s"] = tree_cpu_s() - cpu0
                i += 1
        except Exception:  # a failed operation fails the run's answers
            traceback.print_exc()
            wl.expect(False, f"operation {i} raised")
        wall_s = time.perf_counter() - t_start
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        tracer.attach_spark_metrics()
        wl.check()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    op_walls = [o["t1"] - o["t0"] for o in tracer.ops]
    op_p50_s = statistics.median(op_walls)
    if args.trace:
        layers = tracer.layer_metrics(cores)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        layers = {}
        metrics = {"setup_s": {"value": setup_s, "unit": "s"},
                   "op_p50_s": {"value": op_p50_s, "unit": "s"},
                   "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"}}
    tracer.dump(os.path.join(OUT, f"{tag}.json"), {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "cores": cores, "session_s": session_s, "setup_phases": wl.phases,
        "setup_s": setup_s, "wall_s": wall_s,
        "op_walls_s": op_walls, "peak_rss_mb": peak_rss_mb,
        "op_cpu_s": [o.get("cpu_s") for o in tracer.ops],
        "failures": wl.failures, "layers": layers,
        **wl.extra_metrics(op_p50_s)})
    for what in wl.failures:
        print(f"perfbench: wrong answer: {what}", file=sys.stderr)
    correct = wl.attempted > 0 and not wl.failures
    print(json.dumps({"correct": correct,
                      "attempted": max(1, wl.attempted),
                      "failed": len(wl.failures) or int(not correct),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
