"""Benchmark entry point.

    python3 perfbench/run.py --workload vector_serve --seed 1 --seconds 20 --trace 0

Runs one workload from one process on local[n] (n = the cores this
process may use), prints a report, and prints as its last stdout line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics, read from Spark's
status store, and the spans are written to .perfbench_out/.

Everything the run writes goes under .perfbench_tmp/<run>/ in the
checkout (Python's tempfile, the JVM's java.io.tmpdir, Spark's local
and warehouse dirs), and that root is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("vector_serve", "corpus_curation")


def tail(latencies: list[float]) -> tuple[float | None, float, int]:
    """Latency at the highest percentile with at least 10 samples beyond
    it: (value or None when there are too few samples, percentile, n)."""
    n = len(latencies)
    if n < 11:
        return None, 0.0, n
    return sorted(latencies)[n - 11], 100.0 * (n - 10) / n, n


def new_session_factory(scratch: str, ncpu: int):
    from parquetaivectorsearch_spark.session import get_spark, ship_package

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }

    def new_session():
        spark = get_spark("perfbench", cpus=ncpu, extra_conf=conf)
        ship_package(spark)
        return spark

    return new_session


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every process it forked."""
    import host
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    pids = []
    if spark is not None:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        pids = [jvm_pid, *host.descendants(jvm_pid)]
        spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    host.wait_gone(pids, timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def remove_tree(path: str) -> int:
    """Remove ``path``; return how many entries it held."""
    n = sum(len(d) + len(f) for _, d, f in os.walk(path))
    shutil.rmtree(path, ignore_errors=True)
    return n


def fmt(v, unit: str) -> str:
    return f"{v:.6g} {unit}" if isinstance(v, (int, float)) else f"{v}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", default=None,
                    help="corrupt the first answer of this request kind "
                         "(self-test: it must be counted as failed)")
    args = ap.parse_args()

    if not (ROOT / "parquetaivectorsearch_spark" / "__init__.py").is_file() \
            or not (ROOT / "__spark_entry__.py").is_file():
        print(f"package not found next to {HERE.name}/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import host
    import spans
    import workloads as W

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    scratch_parent = ROOT / ".perfbench_tmp"
    scratch = str(scratch_parent / run_id)
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(scratch, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host.driver_mem()
    # every JVM the run starts, the spark-submit launcher included
    os.makedirs(os.path.join(scratch, "java"), exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(scratch, 'java')} -XX:-UsePerfData")
    ncpu = host.cpus()

    tracer = spans.Tracer(run_id, enabled=bool(args.trace))
    bench = W.Bench(new_session_factory(scratch, ncpu), scratch, tracer,
                    args.seed, args.seconds, args.scale, args.corrupt)
    t_start = time.perf_counter()
    try:
        fn = W.vector_serve if args.workload == "vector_serve" else W.corpus_curation
        res = fn(bench)
        if args.trace:
            spans.collect_counters(bench.spark, tracer)
    finally:
        shutdown(bench.spark)
        left = remove_tree(scratch)
        if not any(scratch_parent.iterdir()):
            scratch_parent.rmdir()
    total_s = time.perf_counter() - t_start

    # ---- metrics ----
    by_kind: dict[str, list] = {}
    for op in res.ops:
        by_kind.setdefault(op.kind, []).append(op.latency)
    p50 = {k: statistics.median(v) for k, v in by_kind.items()}
    checked = res.warm + res.ops
    attempted = len(checked)
    failed = sum(not op.ok for op in checked)
    setup_s = statistics.median(res.setup_rounds) + res.setup_extra_s
    throughput = res.items_per_cycle * res.cycles / res.elapsed
    f = res.facts
    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (throughput, "1/s"),
        "p50_geomean_s": (geomean(p50.values()), "s"),
        "quality": (res.quality, "frac"),
        "peak_rss_mb": (f["peak_rss_mb"], "MB"),
    }
    correct = failed == 0 and res.quality >= 0.9

    # ---- report: every metric by name and unit, then the JSON line ----
    serve = args.workload == "vector_serve"
    t_val, t_pct, t_n = tail([op.latency for op in res.ops])
    na = "n/a on this workload"
    issue = [
        ("setup_s", setup_s, "s"),
        ("serve_qps", throughput if serve else na, "query vectors/s"),
        ("build_vecs_per_s", f.get("build_vecs_per_s", na), "vectors/s"),
        ("curate_docs_per_s", na if serve else throughput, "docs/s"),
        *[(f"serve_{k}_p50_s", p50[k] if serve else na, "s")
          for k in W.SERVE_KINDS],
        ("serve_tail_s" if serve else "curate_tail_s",
         t_val if t_val is not None else f"n/a (needs >= 11 samples, has {t_n})",
         f"s at p{t_pct:.1f} of {t_n} requests"),
        ("recall_at_20_min", res.quality if serve else na, "frac"),
        ("dup_recall", na if serve else res.quality, "frac"),
        ("index_bytes_per_vec_byte", f.get("index_bytes_per_vec_byte", na), "ratio"),
        ("failed_frac", failed / max(1, attempted), "frac"),
        ("peak_rss_mb", f["peak_rss_mb"], "MB"),
    ]
    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} scale={args.scale}")
    print(f"# host: cpus={ncpu} driver_mem={os.environ['SPARK_GRAFT_DRIVER_MEM']} "
          f"steal={f['steal_pct']:.2f}% loadavg={' '.join(f'{x:.2f}' for x in f['loadavg'])}")
    print(f"# input: {f.get('corpus') or f.get('documents')}")
    print(f"# closed loop, 1 client: {res.cycles} cycles, {len(res.ops)} requests "
          f"in {res.elapsed:.2f} s after {len(res.warm)} warm-up requests; "
          f"{attempted} answers checked; setup rounds "
          f"{', '.join(f'{s:.2f}' for s in res.setup_rounds)} s "
          f"+ {res.setup_extra_s:.2f} s index build and warm-up")
    for k, v in p50.items():
        print(f"#   p50 {k}: {v:.4f} s over {len(by_kind[k])}: "
              + " ".join(f"{x:.3f}" for x in by_kind[k]))
    for name, v, unit in issue:
        print(f"{name}: {fmt(v, unit)}")
    for k, v in sorted(f.items()):
        if k not in ("peak_rss_mb", "steal_pct", "loadavg", "corpus", "documents"):
            print(f"# {k}: {v}")
    for op in checked:
        if not op.ok:
            print(f"# FAILED {op.kind}: {op.why}")
    print(f"# scratch root held {left} entries, removed; run took {total_s:.1f} s")

    if args.trace:
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        tracer.dump(str(out_dir / f"spans-{args.workload}-{args.seed}.json"))
        layer = spans.layer_metrics(tracer, res.useful)
        layer["trace.overhead_s"] = f["trace_overhead_s"]
        metrics = {k: {"value": v, "unit": spans.unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
