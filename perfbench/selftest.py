"""Self-test of the benchmark's checks, at tiny size.

    python3 perfbench/selftest.py

Runs each workload once as is and once with one answer corrupted after
the program returned it. A clean run must be correct with no failed
request; a corrupted answer must be counted in ``failed`` and the run
must not be reported as correct.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
CASES = [
    ("vector_serve", None),
    ("vector_serve", "exact"),
    ("vector_serve", "hnsw"),
    ("corpus_curation", "gopher_rules"),
    ("corpus_curation", "token_count"),
]


def run(workload: str, corrupt: str | None) -> dict:
    cmd = [sys.executable, str(RUN), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", "0", "--scale", "tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{cmd} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    bad = 0
    for workload, corrupt in CASES:
        r = run(workload, corrupt)
        if corrupt is None:
            ok = r["correct"] and r["failed"] == 0
        else:
            ok = not r["correct"] and r["failed"] >= 1
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {workload} corrupt={corrupt}: "
              f"correct={r['correct']} failed={r['failed']}/{r['attempted']}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
