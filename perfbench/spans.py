"""Spans around the benchmark's calls into the package, and per-layer
counters read back from Spark's own status store.

A span is (id, parent, run id, layer, name, start, end). While a span
is open its Spark jobs carry a job group named after it, so after the
run the status store says exactly which jobs, stages and tasks it
caused. Spans stay in memory and are written out once, at the end.
No package code is touched.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

LAYERS = ("session", "sources", "operators.knn", "operators.ann",
          "operators.pq", "operators.hnsw", "operators.kmeans",
          "operators.dedup", "operators.suffix", "operators.components",
          "operators.bloom", "functions.text", "functions.bpe")
COUNTERS = ("wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "gc_s",
            "shuffle_mb", "spill_mb", "python_io_mb")
# waste ratios: work attempted per useful result
RATIOS = {"operators.knn": "rows_read_per_result",
          "operators.ann": "rows_read_per_result",
          "operators.pq": "rows_read_per_result",
          "operators.dedup": "pairs_per_dup"}

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def metric_names() -> list[str]:
    names = [f"{layer}.{c}" for layer in LAYERS for c in COUNTERS]
    names += [f"{layer}.{r}" for layer, r in RATIOS.items()]
    return names + ["trace.overhead_s"]


def unit(name: str) -> str:
    counter = name.rsplit(".", 1)[1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    return "count" if counter in ("jobs", "tasks") else "ratio"


class Tracer:
    """Records spans; ``enabled=False`` makes ``span`` a plain timer."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, layer: str, name: str, phase: str):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "layer": layer, "name": name,
               "phase": phase, "traced": self.enabled}
        self.spans.append(rec)
        group = f"{self.run_id}:{sid}"
        if self.enabled and self._sc is not None:
            self._sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled and self._sc is not None:
                if self._stack:
                    parent = self._stack[-1]
                    self._sc.setJobGroup(f"{self.run_id}:{parent}",
                                         self.spans[parent]["name"])
                else:
                    self._sc._jsc.clearJobGroup()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f, indent=1)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(jvm, s) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(s))


def _size_bytes(text: str) -> float:
    """Total of a formatted SQL size metric ('total (min, med, max …)\\n
    12.3 MiB (…)' or '12.3 MiB')."""
    lines = text.strip().splitlines()
    m = _SIZE.search(lines[1] if len(lines) > 1 else lines[0])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


def collect_counters(spark, tracer: Tracer) -> None:
    """Attach Spark counters to every traced span, from the status store.

    jobs/tasks/cpu/gc/shuffle/spill/input rows come from the stages of
    the span's job group; ``driver_s`` is the span's wall time minus the
    union of its job intervals; Python bytes come from the SQL metrics
    of executions whose jobs belong to the span."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jvm = sc._jvm
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs_by_group: dict[str, list] = {}
    for j in _seq(jvm, store.jobsList(jvm.java.util.ArrayList())):
        g = _opt(j.jobGroup())
        if g and g.startswith(tracer.run_id + ":"):
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            jobs_by_group.setdefault(g, []).append({
                "id": j.jobId(),
                "stages": [int(s) for s in _seq(jvm, j.stageIds())],
                "t0": sub.getTime() / 1e3 if sub else None,
                "t1": done.getTime() / 1e3 if done else None})
    stages = {}
    empty = jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(jvm.double, 0)
    for s in _seq(jvm, store.stageList(empty, False, False, quantiles, empty)):
        if str(s.status()) == "SKIPPED":
            continue
        stages[(s.stageId(), s.attemptId())] = {
            "sid": s.stageId(), "tasks": s.numCompleteTasks(),
            "cpu": s.executorCpuTime() / 1e9, "gc": s.jvmGcTime() / 1e3,
            "shuffle": s.shuffleWriteBytes() / 1e6,
            "shuffle_recs": s.shuffleWriteRecords(),
            "spill": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
            "input_recs": s.inputRecords()}
    by_stage: dict[int, list] = {}
    for st in stages.values():
        by_stage.setdefault(st["sid"], []).append(st)
    py_by_job = _python_bytes_by_job(spark)

    for rec in tracer.spans:
        if not rec["traced"]:
            continue
        jobs = jobs_by_group.get(f"{tracer.run_id}:{rec['id']}", [])
        own = [st for j in jobs for sid in j["stages"]
               for st in by_stage.get(sid, [])]
        intervals = sorted((max(j["t0"], rec["start"]), min(j["t1"], rec["end"]))
                           for j in jobs if j["t0"] and j["t1"])
        covered, cur0, cur1 = 0.0, None, None
        for a, b in intervals:
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    covered += max(0.0, cur1 - cur0)
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            covered += max(0.0, cur1 - cur0)
        wall = rec["end"] - rec["start"]
        rec["counters"] = {
            "wall_s": wall,
            "driver_s": max(0.0, wall - covered),
            "jobs": len(jobs),
            "tasks": sum(st["tasks"] for st in own),
            "exec_cpu_s": sum(st["cpu"] for st in own),
            "gc_s": sum(st["gc"] for st in own),
            "shuffle_mb": sum(st["shuffle"] for st in own),
            "spill_mb": sum(st["spill"] for st in own),
            "python_io_mb": sum(py_by_job.get(j["id"], 0.0) for j in jobs),
            "input_recs": sum(st["input_recs"] for st in own),
            "shuffle_recs": sum(st["shuffle_recs"] for st in own),
        }


def _python_bytes_by_job(spark) -> dict[int, float]:
    """MB sent to plus received from Python workers, per Spark job, from
    the SQL metrics of each execution (split evenly over its jobs)."""
    jvm = spark.sparkContext._jvm
    sql_store = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, float] = {}
    for ex in _seq(jvm, sql_store.executionsList()):
        ids = {m.accumulatorId() for m in _seq(jvm, ex.metrics())
               if "Python" in m.name() and m.metricType() == "size"}
        if not ids:
            continue
        values = dict(jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            sql_store.executionMetrics(ex.executionId())))
        total = sum(_size_bytes(values[i]) for i in ids if i in values)
        jobs = [int(j) for j in _seq(jvm, ex.jobs().keys().toSeq())]
        for j in jobs:
            out[j] = out.get(j, 0.0) + total / 1e6 / len(jobs)
    return out


def layer_metrics(tracer: Tracer, results: dict) -> dict:
    """Per-layer counters for one pass of the workload: the traced spans
    of the last set-up round, plus, per request kind, the mean of its
    traced request spans (one request cycle). Layers the workload never
    calls read 0.

    ``results`` maps layer -> useful results of its traced request
    spans (result rows for the vector layers, duplicate pairs found for
    dedup), the denominators of the waste ratios."""
    out = {name: 0.0 for name in metric_names()}
    traced = [r for r in tracer.spans if r["traced"] and "counters" in r
              and r["layer"] in LAYERS]
    by_kind: dict[tuple, list] = {}
    for rec in traced:
        if rec["phase"] == "setup":
            by_kind[(rec["layer"], rec["name"], rec["id"])] = [rec]
        elif rec["phase"] == "request":
            by_kind.setdefault((rec["layer"], rec["name"]), []).append(rec)
    for key, recs in by_kind.items():
        for c in COUNTERS:
            out[f"{key[0]}.{c}"] += sum(r["counters"][c] for r in recs) / len(recs)
    for layer, ratio in RATIOS.items():
        reqs = [r for r in traced if r["layer"] == layer
                and r["phase"] == "request"]
        useful = results.get(layer, 0)
        if not reqs or not useful:
            continue
        key = "shuffle_recs" if ratio == "pairs_per_dup" else "input_recs"
        out[f"{layer}.{ratio}"] = sum(r["counters"][key] for r in reqs) / useful
    return out
