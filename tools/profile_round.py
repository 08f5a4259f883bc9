"""Optimization-round profiler: per-query min-of-N wall at ONE sf
(default sf0.1, the driver's bench SF) + formatted-plan capture.

Unlike bench.py (the driver-contract artifact, 3 full passes + phases)
this is the builder's measurement loop from the optimization guide §1:
warm pass, then min-of-REPS per query with the noop sink, plus
`.explain("formatted")` written to plans/<round>/<query>_<tag>.txt so
plan claims in OPTIMIZATION_<round>.md are checkable without running Spark.

Usage:
    python tools/profile_round.py <round> <tag> [out.json] [query ...]
        round    — round label, e.g. r16: picks plans/<round>/ and the
                   default artifact name
        tag      — suffix for the plan files (before/after/...)
        out.json — per-query timings artifact
                   (default PROFILE_<round>_<tag>.json)
        query    — optional subset of HEADLINE names (default: all)
Env: PROFILE_SF_DIR (default /root/testdata/sf0.1), PROFILE_REPS (3),
     PROFILE_PLANS=0 to skip plan capture.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("PROFILE_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("PROFILE_REPS", "3"))


def main() -> None:
    from bench import HEADLINE

    import __spark_entry__ as E
    from parquetaivectorsearch_spark.plans.inspect import formatted_plan
    from parquetaivectorsearch_spark.session import get_spark

    if len(sys.argv) < 3:
        sys.exit(__doc__)
    round_tag, tag = sys.argv[1], sys.argv[2]
    out_path = sys.argv[3] if len(sys.argv) > 3 else \
        f"{_REPO}/PROFILE_{round_tag}_{tag}.json"
    names = sys.argv[4:] or list(HEADLINE)
    plans_dir = Path(_REPO) / "plans" / round_tag
    plans_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark(f"pavs-profile-{round_tag}",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    # same generic warmups as bench.py so rep 1 is not paying daemon spin-up
    qs["count_rows"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    def _warm(batches):
        import numpy  # noqa: F401
        yield from batches

    (spark.range(10_000, numPartitions=32)
     .mapInPandas(_warm, "id long")
     .write.format("noop").mode("overwrite").save())

    # plan capture first (cheap, and the construction of iterative
    # queries doubles as the per-query warm pass)
    if os.environ.get("PROFILE_PLANS", "1") != "0":
        for name in names:
            spark.sparkContext.setJobDescription(f"plan: {name}")
            df = qs[name](spark, SF_DIR)
            (plans_dir / f"{name}_{tag}.txt").write_text(formatted_plan(df))

    # warm pass (skipped entirely at REPS=0 — plan-capture-only mode)
    for name in (names if REPS else []):
        spark.sparkContext.setJobDescription(f"warm: {name}")
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    t: dict[str, float] = {}
    reps: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(REPS):
        for name in names:
            spark.sparkContext.setJobDescription(f"timed: {name}")
            t0 = time.monotonic()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = round(time.monotonic() - t0, 3)
            reps[name].append(dt)
            t[name] = min(t.get(name, float("inf")), dt)

    total = round(sum(t.values()), 3)
    result = {"tag": tag, "sf_dir": SF_DIR, "reps": REPS,
              "total_min": total, "queries": t, "all_reps": reps}
    Path(out_path).write_text(json.dumps(result, indent=1) + "\n")
    top = dict(sorted(t.items(), key=lambda kv: -kv[1])[:15])
    print(json.dumps({"total_min": total, "n": len(t), "slowest": top}))
    spark.stop()


if __name__ == "__main__":
    main()
