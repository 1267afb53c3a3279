"""Spans around the benchmark's calls into `osmspark`, joined after the run
with the Spark status stores.

Every span tags the Spark jobs it launches with its own job group
(`SparkContext.setJobGroup`), so once the timed region is over the jobs,
their stages and their SQL executions can be attributed to the span that
launched them.  Spans live in memory and are written out once, at exit.

Two span kinds per layer:
  * ``call`` -- driver time inside the public function (plus any Spark
    jobs it runs eagerly before returning);
  * ``exec`` -- the action that materializes the call's result.  In the
    write path the action is `SnapshotStore.save`, so a save span is both
    the stage layer's ``exec`` and a ``plans.checkpoint`` call.
"""

from __future__ import annotations

import itertools
import json
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

TRACE_CONF = {
    # a kNN call alone launches ~30 jobs; the default retention of 1000
    # jobs/stages would silently drop the oldest spans' jobs
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0}


def _total_seconds(formatted: str) -> float:
    """Seconds from a Spark timing metric string ('total (...)\\n1.2 s (..')."""
    line = formatted.split("\n")[-1] if "\n" in formatted else formatted
    m = re.match(r"\s*([0-9.,]+)\s*(ms|s|min|m|h)\b", line)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


class Tracer:
    """Records span wall times always; `enabled` adds the job-group tagging
    and the status-store readout, so the untraced run executes the same
    benchmark code without touching Spark's job properties."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._op = None
        self._ids = itertools.count(1)  # next() is atomic under the GIL

    # -- recording -----------------------------------------------------------
    @contextmanager
    def op(self, name: str):
        """One timed operation (an ingest pass, a lookup round)."""
        rec = {"op": len(self.ops), "name": name, "t0": time.perf_counter()}
        self._op = rec["op"]
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self.ops.append(rec)
            self._op = None

    @contextmanager
    def span(self, layer: str, fn: str, kind: str = "call", of: str | None = None,
             rows_out: int | None = None):
        """Span around one call (kind='call') or one materializing action
        (kind='exec', `of` = the layer whose result it materializes).
        Yields the span dict; set ``span['rows_out']`` inside the block."""
        sid = f"pb-{next(self._ids)}"
        rec = {"id": sid, "layer": layer, "fn": fn, "kind": kind,
               "of": of or layer, "op": self._op, "rows_out": rows_out}
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(sid, f"{layer}.{fn}", False)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            if self.enabled:
                sc.setJobGroup("pb-untraced", "outside any span", False)
            self.spans.append(rec)

    # -- status-store readout -------------------------------------------------
    def attach_spark_metrics(self) -> None:
        """Fill each span's jobs/stages/SQL metrics from the status stores."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        by_group: dict[str, list] = defaultdict(list)
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined():
                continue
            sub, done = j.submissionTime(), j.completionTime()
            by_group[g.get()].append({
                "job": j.jobId(),
                "stages": [j.stageIds().apply(k)
                           for k in range(j.stageIds().size())],
                "wall_s": ((done.get().getTime() - sub.get().getTime()) / 1e3
                           if sub.isDefined() and done.isDefined() else 0.0),
                "failed_tasks": j.numFailedTasks(),
            })
        empty = jvm.java.util.Collections.emptyList()
        no_q = sc._gateway.new_array(jvm.double, 0)
        stage_cache: dict[int, dict] = {}

        def stage(sid: int) -> dict:
            if sid not in stage_cache:
                acc = {"task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
                try:
                    attempts = store.stageData(sid, False, empty, False, no_q)
                except Py4JJavaError:  # evicted from the store: counted as 0
                    attempts = None
                for a in range(attempts.size() if attempts is not None else 0):
                    sd = attempts.apply(a)
                    acc["task_s"] += sd.executorRunTime() / 1e3
                    acc["shuffle_bytes"] += sd.shuffleWriteBytes()
                    acc["spill_bytes"] += sd.diskBytesSpilled()
                stage_cache[sid] = acc
            return stage_cache[sid]

        python_by_job = self._python_seconds_by_job()
        for sp in self.spans:
            js = by_group.get(sp["id"], [])
            seen: set[int] = set()
            sp.update(jobs=len(js), task_s=0.0, shuffle_bytes=0, spill_bytes=0,
                      failed_tasks=sum(j["failed_tasks"] for j in js),
                      job_wall_s=sum(j["wall_s"] for j in js),
                      python_s=sum(python_by_job.get(j["job"], 0.0) for j in js))
            for j in js:
                for sid in j["stages"]:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = stage(sid)
                    for key in ("task_s", "shuffle_bytes", "spill_bytes"):
                        sp[key] += st[key]

    def _python_seconds_by_job(self) -> dict[int, float]:
        """'time to run Python workers' of each SQL execution, assigned to
        the execution's first job (every job of an execution shares one
        group, so the per-span sum is unaffected)."""
        sqls = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[int, float] = {}
        execs = sqls.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            metrics = e.metrics()
            ids = {metrics.apply(k).accumulatorId()
                   for k in range(metrics.size())
                   if metrics.apply(k).name() == "time to run Python workers"}
            if not ids:
                continue
            vals = sqls.executionMetrics(e.executionId())
            secs = 0.0
            for acc in ids:
                v = vals.get(acc)
                if v.isDefined():
                    secs += _total_seconds(v.get())
            job_ids = sorted(int(k) for k in
                             re.findall(r"(\d+) ->", e.jobs().toString()))
            if job_ids:
                out[job_ids[0]] = out.get(job_ids[0], 0.0) + secs
        return out

    # -- aggregation ------------------------------------------------------------
    def layer_metrics(self, cores: int) -> dict[str, float]:
        """`<layer>.<metric>` per timed operation (sums over the run / ops),
        plus the tracer's own coverage figures."""
        n_ops = max(1, len(self.ops))
        acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            if sp["op"] is None:
                continue
            wall = sp["t1"] - sp["t0"]
            if sp["kind"] == "call":
                acc[sp["layer"]]["call_s"] += wall
            else:
                acc[sp["of"]]["exec_s"] += wall
            if sp["layer"] == "plans.checkpoint" and sp["fn"] == "save":
                # the save is also a checkpoint call: its wall overlaps the
                # stage layer's exec_s on purpose
                ck = acc["plans.checkpoint"]
                ck["call_s"] += wall
                ck["bytes_written"] += sp.get("bytes_written", 0)
                ck["commit_s"] += max(0.0, wall - sp.get("job_wall_s", 0.0))
            owner = acc[sp["of"]]
            for key in ("jobs", "task_s", "python_s", "shuffle_bytes",
                        "spill_bytes", "failed_tasks"):
                owner[key] += sp.get(key, 0)
            if sp.get("rows_out") is not None:
                owner["rows_out"] += sp["rows_out"]
        out: dict[str, float] = {}
        for layer, m in sorted(acc.items()):
            busy = (m["call_s"] + m["exec_s"]) * cores
            for key, v in m.items():
                out[f"{layer}.{key}"] = v / n_ops
            if busy > 0:  # a ratio: not divided by the op count
                out[f"{layer}.idle_frac"] = 1.0 - m["task_s"] / busy
        out["trace.failed_tasks"] = sum(m["failed_tasks"] for m in acc.values()) / n_ops
        out["trace.spill_bytes"] = sum(m["spill_bytes"] for m in acc.values()) / n_ops
        op_walls = [o["t1"] - o["t0"] for o in self.ops]
        covered = sum(sp["t1"] - sp["t0"] for sp in self.spans
                      if sp["op"] is not None)
        out["trace.op_p50_s"] = statistics.median(op_walls)
        out["trace.uncovered_s"] = max(0.0, sum(op_walls) - covered) / n_ops
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.spans, **extra}, f,
                      indent=1, default=str)
