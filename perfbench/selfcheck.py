#!/usr/bin/env python3
"""Self-check of the benchmark at toy size (a few hundred pages, a 200-doc
documents table).

    python3 perfbench/selfcheck.py          # from the root of a checkout

1. Every workload, untraced and traced, prints exactly the metrics listed
   in BENCHMARK.json, each with its unit and a finite, non-zero value, and
   reports no failure.
2. A deliberately corrupted reference must be caught: one wrong oracle row
   and a wrong corpus pin for ``extract`` (pass and job),
   and one wrong query hash for ``queries``.
3. Outside a checkout the benchmark exits non-zero without a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")


def bench(root, workload, trace, corrupt=None):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "42",
           "--seconds", "1", "--trace", str(trace), "--size", "toy"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            r = bench(root, w, trace)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w}/trace{trace}: result keys {sorted(r)}")
            if got != want[trace]:
                problems.append(f"{w}/trace{trace}: metrics differ: {sorted(set(got) ^ set(want[trace]))} "
                                f"or units {[(k, got.get(k), u) for k, u in want[trace].items() if got.get(k) != u]}")
            zero = [k for k, v in r["metrics"].items()
                    if not (isinstance(v["value"], (int, float)) and math.isfinite(v["value"]) and v["value"])]
            if zero:
                problems.append(f"{w}/trace{trace}: zero or non-finite values {zero}")
            if not r["correct"] or r["failed"]:
                problems.append(f"{w}/trace{trace}: failed {r['failed']} of {r['attempted']}")
            print(f"{w} trace={trace}: {len(got)} metrics, failed={r['failed']}", flush=True)
    for w, corrupt in (("extract", "row"), ("extract", "hash"), ("queries", "hash")):
        r = bench(root, w, 0, corrupt)
        print(f"corrupt {corrupt} on {w}: failed {r['failed']} of {r['attempted']}", flush=True)
        if r["correct"] or r["failed"] == 0:
            problems.append(f"{w}: corrupted {corrupt} went unnoticed")
    with tempfile.TemporaryDirectory(dir=root) as empty:
        p = subprocess.run([sys.executable, RUN, "--workload", "extract", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=empty,
                           capture_output=True, text=True, timeout=180)
        if p.returncode == 0 or '"metrics"' in p.stdout:
            problems.append("outside a checkout the benchmark did not fail")
    for line in problems:
        print("PROBLEM:", line)
    print("selfcheck", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
