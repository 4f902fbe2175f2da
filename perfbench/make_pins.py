#!/usr/bin/env python3
"""Rebuild ``perfbench/pins.json``, the benchmark's pinned references.

    python3 perfbench/make_pins.py          # from the root of a checkout

Pins, at the default seed and for both the full and the toy size:

* ``corpus_digest``: the spec-oracle digest of each extraction corpus, so
  a byte change in ``spec/`` fails ``extract``;
* ``queries``: the canonical output hash of each benchmark query, computed
  from Spark and cross-checked once against ``oracle_sql()`` run in DuckDB
  (``queries_cross_check`` records the outcome, or that a key has no SQL);
* ``host_probe_quiet_s``: the quiet-host probe, best of 20.

Run it on a quiet host, and only when a reference is meant to change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    import run  # sets nothing up on import

    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = root
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["GONOVA_ORACLE_SF_DIR"] = os.path.join(work, "sf")

    import checks
    import workloads
    from harness import NPROC, Tracer, shutdown_spark, start_spark

    pins = {
        "host_probe_quiet_s": min(run.host_probe({})["probe_s"] for _ in range(4)),
        "corpus_digest": {},
        "queries": {},
        "queries_cross_check": {},
    }
    seed = run.DEFAULT_SEED
    spark = start_spark(f"local[{NPROC}]", work)
    try:
        import __spark_entry__ as E

        sqls = E.oracle_sql()
        for size in workloads.SIZES:
            ex = workloads.Extract(root, seed, 0, Tracer(False), size, {}, None)
            ex.prepare_inputs(spark)
            ex.prepare_oracle()
            pins["corpus_digest"][f"{seed}:{ex.n_pages()}"] = ex.detail["corpus_digest"]

            q = workloads.Queries(root, seed, 0, Tracer(False), size, {}, None)
            q.prepare_inputs(spark)
            duck = checks.duckdb_hashes(q.sf_dir(), {n: sqls[n] for n in q.order() if n in sqls})
            got = {}
            for name in q.order():
                got[name] = checks.spark_hash(E.queries()[name](spark, q.sf_dir()))
                if name not in duck:
                    verdict = "no oracle_sql entry"
                elif duck[name] == got[name]:
                    verdict = "matches DuckDB"
                else:
                    verdict = f"DIFFERS from DuckDB {duck[name]}"
                pins["queries_cross_check"][f"{seed}:{q.size['docs']}:{name}"] = verdict
            pins["queries"][f"{seed}:{q.size['docs']}"] = got
    finally:
        shutdown_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(pins["queries_cross_check"], indent=1))
    differs = [k for k, v in pins["queries_cross_check"].items() if v.startswith("DIFFERS")]
    return 1 if differs else 0


if __name__ == "__main__":
    sys.exit(main())
