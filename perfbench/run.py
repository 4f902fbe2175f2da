#!/usr/bin/env python3
"""The repo benchmark.  Run from the root of a checkout:

    python3 perfbench/run.py --workload extract --seed 42 --seconds 8 --trace 0

Workloads: extract, queries (see workloads.py and
BENCHMARK.json).  With ``--trace 0`` the last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric; ``--trace 1`` reports the per-layer metrics
instead and writes the spans plus workload detail (per-query walls, wave
stamps, 1-core throughput) to ``.perfbench_out/``.  The line before it holds
the quiet-host probe.  Inputs come from ``--seed``; scratch files live
under ``.perfbench_work/`` and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SEED = 42


def host_probe(pins: dict) -> dict:
    """A fixed single-core Python loop; its ratio to the pinned quiet value
    says how contended the host was when the run started."""
    walls = []
    for _ in range(5):
        a = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc += (i * i) % 7
        walls.append(time.perf_counter() - a)
    probe = min(walls)
    quiet = pins.get("host_probe_quiet_s")
    return {"probe_s": probe, "quiet_s": quiet, "ratio": probe / quiet if quiet else None}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy: a few hundred pages, for selfcheck.py")
    ap.add_argument("--corrupt", choices=("row", "hash"),
                    help="selfcheck.py only: corrupt one reference")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(root, "gonova_document_parser_spark"))
    ):
        print("perfbench: run from the root of a gonova checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import workloads  # needs root on sys.path

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the package from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # oracle_sql() keys its IVF/SemDeDup index builds on this directory; the
    # generated sf has no embeddings, so those entries resolve to None
    os.environ["GONOVA_ORACLE_SF_DIR"] = os.path.join(work, "sf")
    # The driver heap, through the package's own knob (session.get_spark
    # reads it).  Under its 8g default G1 grows the heap lazily, and peak RSS
    # of identical query runs ranged 2.2-4.6 GB on a 4-core, 15 GB host; 1g
    # holds every workload here and keeps peak_rss_mb repeatable.  Arrow
    # batch size and scan splits stay at get_spark's defaults.
    os.environ["GONOVA_DRIVER_MEM"] = "1g"

    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    probe = host_probe(pins)

    from harness import Tracer, become_subreaper, reap_children

    tracer = Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](
        root, args.seed, args.seconds, tracer, args.size, pins, args.corrupt
    )
    become_subreaper()
    # a terminated run still stops the JVM and reaps its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        e2e, layers = wl.run()
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(
                {"workload": args.workload, "seed": args.seed, "host_probe": probe,
                 "end_to_end_traced": e2e, "per_layer": layers,
                 "detail": wl.detail, "spans": tracer.spans},
                fh, indent=1, default=str,
            )
        print(f"perfbench: trace written to {path}", file=sys.stderr)
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        steps = {n: {k: [round(x, 3) for x in v] for k, v in s.items()}
                 for n, s in wl.detail["steps"].items()}
        print(f"perfbench: steps {json.dumps(steps)}", file=sys.stderr)
    print(json.dumps({"host_probe": probe}))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": max(1, wl.attempted),
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
