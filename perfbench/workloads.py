"""The two workloads.  Each runs one Spark job at a time (one closed-loop
client) at ``local[nproc]``, times its steps to their full output, checks
the output, and reports medians.

extract      two steps over one corpus: ``extract_pages`` -> noop sink
             (spec + Arrow boundary), and ``run_with_checkpoint`` killed at a
             wave boundary after half the waves, then resumed (the durable
             write path)
queries      a fixed set of ``__spark_entry__.queries()`` entries, each a
             step timed to a noop sink, in seeded order with
             ``extract_pipeline`` last
"""

from __future__ import annotations

import os
import random
import shutil
import time
from statistics import median

import checks
import inputs
from harness import (
    NPROC,
    RssSampler,
    StatusReader,
    Tracer,
    jvm_pid,
    shutdown_spark,
    start_spark,
)

SETUP_REPS = 3

# The query-tier subset, sized to the run budget: duplicated-span dedup
# (its full output costs several times its count()), one iterative driver
# loop (PageRank over the rendered host graph), and the fused extraction
# pipeline, last because its lingering Arrow workers slow shuffle-heavy
# queries measured after it.  Each has a DuckDB oracle that stays cheap at
# this size (dedup_clusters' recursive CTE does not).
QUERIES = ["dup_spans"]
ITERATIVE = ["host_pagerank"]
LAST = "extract_pipeline"

SIZES = {
    "full": {"pages": 2000, "files": 8, "partitions": 8, "waves": 2, "docs": 500},
    "toy": {"pages": 300, "files": 4, "partitions": 4, "waves": 2, "docs": 200},
}

# status-store sums that make up the per-layer report (task_skew is a max).
# Output bytes are 0 by construction on ``queries`` (every query ends in a
# noop sink), so they go to the trace file's per_step_layers only.
_LAYER_SUMS = {
    "arrow.python_run_s": "arrow.python_run_s",
    "arrow.python_init_s": "arrow.python_init_s",
    "arrow.bytes_to_python": "arrow.bytes_to_python",
    "arrow.bytes_from_python": "arrow.bytes_from_python",
    "scan.bytes_read": "scan_bytes",
    "exchange.bytes": "exchange_bytes",
    "unit.jobs": "jobs",
    "unit.tasks": "tasks",
    "unit.executor_run_s": "executor_run_s",
    "unit.jvm_cpu_s": "jvm_cpu_s",
}


class JobKilled(Exception):
    """Raised from on_progress to kill a run at a wave boundary."""


class Workload:
    name = ""
    warm_reps = 0  # untimed repetitions of each step before its timed ones
    min_reps = 3  # timed repetitions of each step, whatever --seconds says
    extractions_per_rep = 1  # times one repetition of the steps extracts spec_payloads()

    def __init__(self, root, seed, seconds, tracer: Tracer, size, pins, corrupt):
        self.root = root
        self.work = os.path.join(root, ".perfbench_work")
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.size = SIZES[size]
        self.pins = pins
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.phase = "setup"
        self.detail: dict = {}

    # -- hooks ---------------------------------------------------------
    def prepare_inputs(self, spark) -> None:
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        raise NotImplementedError

    def warm_and_check(self, spark) -> None:
        """Run every step once (untimed), checking its output."""
        raise NotImplementedError

    def steps(self) -> list[tuple[str, object]]:
        """(name, fn(spark)) pairs; a step is timed min_reps+ times in a row."""
        raise NotImplementedError

    def spec_payloads(self) -> list[bytes]:
        raise NotImplementedError

    def scan_df(self, spark):
        raise NotImplementedError

    def trace_extra(self, spark) -> None:
        """Workload-specific trace detail, written to the trace file."""

    # -- driver --------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        t = self.tracer
        with t.span("run", workload=self.name, seed=self.seed):
            with t.span("session_start", master=f"local[{NPROC}]"):
                t0 = time.perf_counter()
                self.spark = start_spark(f"local[{NPROC}]", self.work)
                jvm_start_s = time.perf_counter() - t0
            try:
                return self._run(self.spark, jvm_start_s)
            finally:
                with t.span("shutdown"):
                    shutdown_spark(self.spark)

    def _run(self, spark, jvm_start_s):
        t = self.tracer
        inputs_s, oracle_s = [], []
        for i in range(SETUP_REPS):
            with t.span("setup", rep=i):
                a = time.perf_counter()
                with t.span("inputs"):
                    self.prepare_inputs(spark)
                b = time.perf_counter()
                with t.span("oracle"):
                    self.prepare_oracle()
                inputs_s.append(b - a)
                oracle_s.append(time.perf_counter() - b)
        setup = {"inputs_s": median(inputs_s), "oracle_s": median(oracle_s)}
        self.phase = "warmup"
        with t.span("warmup"):
            self.warm_and_check(spark)

        self.phase = "timed"
        pid = jvm_pid(spark)
        reader = StatusReader(spark) if t.enabled else None
        steps = self.steps()
        share = self.seconds / len(steps)
        recs = {}
        for name, fn in steps:
            rec = recs[name] = {"wall": [], "rss": [], "layers": [], "tracing": []}
            for _ in range(self.warm_reps):
                with t.span("step_warmup", step=name):
                    fn(spark)
            end = time.perf_counter() + share
            while len(rec["wall"]) < self.min_reps or time.perf_counter() < end:
                # a traced run tags each repetition with a job group and reads
                # it back from the status store; that work is the tracing
                # overhead
                if reader is not None:
                    a = time.perf_counter()
                    token = reader.begin()
                    begin_s = time.perf_counter() - a
                spark.sparkContext._jvm.System.gc()  # heap left by earlier steps
                with t.span("step", step=name, rep=len(rec["wall"])), RssSampler(pid) as rss:
                    a = time.perf_counter()
                    fn(spark)
                    rec["wall"].append(time.perf_counter() - a)
                rec["rss"].append(rss.peak_mb)
                if reader is not None:
                    with t.span("status_read"):
                        a = time.perf_counter()
                        rec["layers"].append(reader.end(token))
                        rec["tracing"].append(begin_s + time.perf_counter() - a)
        e2e = {
            "setup_s": jvm_start_s + setup["inputs_s"] + setup["oracle_s"],
            "wall_s": sum(median(r["wall"]) for r in recs.values()),
            "peak_rss_mb": max(median(r["rss"]) for r in recs.values()),
        }
        self.detail["steps"] = {n: {k: r[k] for k in ("wall", "rss")} for n, r in recs.items()}
        if not t.enabled:
            return e2e, {}
        return e2e, self._trace_layers(spark, reader, jvm_start_s, setup, recs, e2e)

    def _trace_layers(self, spark, reader, jvm_start_s, setup, recs, e2e):
        t = self.tracer
        spec = self._time_spec()
        with t.span("scan_probe"):
            scan_walls, scan_tasks = [], 0
            for _ in range(3):
                token = reader.begin()
                a = time.perf_counter()
                self.scan_df(spark).write.format("noop").mode("overwrite").save()
                scan_walls.append(time.perf_counter() - a)
                scan_tasks = reader.end(token)["tasks"]
        self.trace_extra(spark)
        wall_1core = self._time_one_core(spark)

        per_step = {
            n: {k: median([lay[k] for lay in r["layers"]]) for k in r["layers"][0]}
            for n, r in recs.items()
        }
        out = {
            "setup.jvm_start_s": jvm_start_s,
            "setup.inputs_s": setup["inputs_s"],
            "setup.oracle_s": setup["oracle_s"],
            **spec,
        }
        for key, src in _LAYER_SUMS.items():
            out[key] = sum(s[src] for s in per_step.values())
        out["arrow.overhead_s"] = (
            out["arrow.python_run_s"] - self.extractions_per_rep * spec["spec.extract_document_s"]
        )
        out["unit.task_skew"] = max(s["task_skew"] for s in per_step.values())
        out["scan.wall_s"] = median(scan_walls)
        out["scan.tasks"] = scan_tasks
        out["scaling.wall_1core_s"] = wall_1core
        out["scaling.efficiency"] = (wall_1core / e2e["wall_s"]) / NPROC
        out["trace.overhead_s"] = sum(median(r["tracing"]) for r in recs.values())
        self.detail["per_step_layers"] = per_step
        return out

    def _time_spec(self) -> dict:
        """Single-core Spark-free spec time over this workload's documents."""
        from gonova_document_parser_spark.spec import extract_document

        by_type: dict[str, list[float]] = {"html": [], "pdf": [], "scanned": []}
        with self.tracer.span("spec", call="extract_document"):
            for payload in self.spec_payloads():
                a = time.perf_counter()
                r = extract_document(payload)
                by_type[r["page_type"]].append(time.perf_counter() - a)
        out = {"spec.extract_document_s": sum(sum(v) for v in by_type.values())}
        for kind, times in by_type.items():
            out[f"spec.{kind}_ms_per_doc"] = 1e3 * sum(times) / max(1, len(times))
        return out

    def _time_one_core(self, spark) -> float:
        """Every step at local[1], timed once in a restarted session.  The
        JVM stays up, so its code is already compiled; one untimed run of
        the first step starts the new session's Python workers."""
        with self.tracer.span("session_restart", master="local[1]"):
            spark.stop()
            spark = self.spark = start_spark("local[1]", self.work)
        self.phase = "one_core"
        steps = self.steps()
        with self.tracer.span("one_core_warmup", step=steps[0][0]):
            steps[0][1](spark)
        total = 0.0
        walls = {}
        for name, fn in steps:
            with self.tracer.span("one_core", step=name):
                a = time.perf_counter()
                fn(spark)
                walls[name] = time.perf_counter() - a
                total += walls[name]
        self.detail["one_core_walls"] = walls
        return total


# ---------------------------------------------------------------------------


class Extract(Workload):
    """The extraction path, as a user runs it in two ways over one corpus:
    a pass of ``extract_pages`` into a noop sink, and a checkpointed job
    (``run_with_checkpoint``) killed at a wave boundary and resumed."""

    name = "extract"
    extractions_per_rep = 2  # the pass and the job each extract the corpus once

    def n_pages(self) -> int:
        return self.size["pages"]

    def corpus_path(self) -> str:
        return os.path.join(self.work, "pages")

    def prepare_inputs(self, spark) -> None:
        inputs.write_corpus(spark, self.corpus_path(), self.n_pages(), self.seed, self.size["files"])

    def prepare_oracle(self) -> None:
        urls, payloads = checks.read_corpus(self.corpus_path())
        self.oracle = checks.spec_oracle(urls, payloads, NPROC)
        self.detail["corpus_digest"] = checks.corpus_digest(self.oracle)
        if self.corrupt == "row":  # self-check: one wrong reference row
            self.oracle[urls[0]] = "0" * 16

    def pin_ok(self) -> bool:
        """At a pinned seed and size the oracle digest must equal the pin,
        so a byte change in spec/ fails the run."""
        pin = self.pins.get("corpus_digest", {}).get(f"{self.seed}:{self.n_pages()}")
        if self.corrupt == "hash" and pin:
            pin = "corrupted-" + pin
        self.detail["corpus_digest_pin"] = pin
        return pin is None or pin == self.detail["corpus_digest"]

    def check_rows(self, rows) -> None:
        self.attempted += len(self.oracle)
        if self.pin_ok():
            self.failed += checks.extraction_failures(rows, self.oracle)
        else:  # the reference itself moved: nothing is verified
            self.failed += len(self.oracle)

    def spec_payloads(self) -> list[bytes]:
        return checks.read_corpus(self.corpus_path())[1]

    def scan_df(self, spark):
        return spark.read.parquet(self.corpus_path()).select("url", "warc_ts", "html")

    # -- the pass --------------------------------------------------------
    def _extracted(self, spark):
        from gonova_document_parser_spark.operators.extract import extract_pages

        return extract_pages(spark.read.parquet(self.corpus_path()))

    def _pass(self, spark) -> None:
        self._extracted(spark).write.format("noop").mode("overwrite").save()

    # -- the checkpointed job --------------------------------------------
    def _paths(self):
        job = os.path.join(self.work, "job")
        return job, os.path.join(job, "out"), os.path.join(job, "ckpt")

    def _job(self, spark) -> dict:
        """One killed run plus its resume; returns the resume's stats."""
        from gonova_document_parser_spark.checkpoint import run_with_checkpoint

        job, out, ckpt = self._paths()
        shutil.rmtree(job, ignore_errors=True)
        pages = spark.read.parquet(self.corpus_path())
        kill_after = self.size["waves"] // 2
        stamps = []

        def killer(progress):
            stamps.append(time.perf_counter())
            if progress["wave"] == kill_after:
                raise JobKilled()

        kwargs = dict(run_id="perfbench", n_partitions=self.size["partitions"], n_waves=self.size["waves"])
        a = time.perf_counter()
        with self.tracer.span("killed_run"):
            try:
                run_with_checkpoint(spark, pages, out, ckpt, on_progress=killer, **kwargs)
                raise RuntimeError("the run was not killed")
            except JobKilled:
                pass
        b = time.perf_counter()
        with self.tracer.span("resume"):
            stats = run_with_checkpoint(
                spark, pages, out, ckpt,
                on_progress=lambda p: stamps.append(time.perf_counter()), **kwargs,
            )
        c = time.perf_counter()
        self.detail.setdefault("jobs", []).append({
            "phase": self.phase, "killed_s": b - a, "resume_s": c - b,
            "wave_s": [y - x for x, y in zip([a] + stamps, stamps)], "stats": stats,
        })
        return stats

    def _stats_failures(self, stats) -> int:
        """Rows lost or duplicated according to the resume's own stats."""
        bad = abs((stats["n_docs"] or 0) - len(self.oracle))
        if stats["partitions_total"] != self.size["partitions"]:
            bad = max(bad, 1)
        return bad

    def _timed_job(self, spark) -> None:
        stats = self._job(spark)
        self.attempted += 1
        self.failed += 1 if self._stats_failures(stats) else 0

    # -- workload hooks --------------------------------------------------
    def warm_and_check(self, spark) -> None:
        self.check_rows(self._extracted(spark).select("url", *checks.EXTRACT_FIELDS).collect())
        stats = self._job(spark)
        _, out, _ = self._paths()
        self.check_rows(spark.read.parquet(out).select("url", *checks.EXTRACT_FIELDS).collect())
        self.failed += self._stats_failures(stats)

    def steps(self):
        return [("extract_pass", self._pass), ("killed_and_resumed", self._timed_job)]

    def trace_extra(self, spark) -> None:
        """A timed completed_partitions call on the last job's checkpoint."""
        from gonova_document_parser_spark.checkpoint import completed_partitions

        _, _, ckpt = self._paths()
        walls = []
        with self.tracer.span("checkpoint_lookup"):
            for _ in range(3):
                a = time.perf_counter()
                completed_partitions(spark, ckpt, "perfbench", "").collect()
                walls.append(time.perf_counter() - a)
        self.detail["checkpoint.lookup_s"] = median(walls)

    def run(self):
        e2e, layers = super().run()
        steps = self.detail["steps"]
        timed = [j for j in self.detail["jobs"] if j["phase"] == "timed"]
        pass_s = median(steps["extract_pass"]["wall"])
        self.detail["docs_per_s"] = self.n_pages() / pass_s
        self.detail["job_docs_per_s"] = self.n_pages() / median(steps["killed_and_resumed"]["wall"])
        self.detail["resume_s"] = median([j["resume_s"] for j in timed])
        self.detail["wave_s"] = median([w for j in timed for w in j["wave_s"]])
        if layers:
            one_core = self.detail["one_core_walls"]["extract_pass"]
            self.detail["docs_per_s_1core"] = self.n_pages() / one_core
            self.detail["scaling_efficiency"] = (one_core / pass_s) / NPROC
        return e2e, layers


class Queries(Workload):
    name = "queries"
    # a query's second and third executions still run partly JIT-compiled
    # code: two more untimed runs per step keep that transient out of the
    # median of the timed ones
    warm_reps = 2
    min_reps = 3

    def sf_dir(self) -> str:
        return os.path.join(self.work, "sf")

    def order(self) -> list[str]:
        names = QUERIES + ITERATIVE
        random.Random(self.seed).shuffle(names)
        return names + [LAST]

    def prepare_inputs(self, spark) -> None:
        inputs.write_documents(self.sf_dir(), self.size["docs"], self.seed)

    def prepare_oracle(self) -> None:
        import __spark_entry__ as E

        sqls = E.oracle_sql()
        self.expected = checks.duckdb_hashes(self.sf_dir(), {q: sqls[q] for q in self.order()})
        if self.corrupt == "hash":  # self-check: one wrong reference hash
            self.expected[LAST] = "corrupted"

    def warm_and_check(self, spark) -> None:
        import __spark_entry__ as E

        qs = E.queries()
        pins = self.pins.get("queries", {}).get(f"{self.seed}:{self.size['docs']}", {})
        got = {}
        for name in self.order():
            with self.tracer.span("query_check", query=name):
                self.attempted += 1
                try:
                    got[name] = checks.spark_hash(qs[name](spark, self.sf_dir()))
                except Exception as e:  # a raising query is a failed one
                    got[name] = f"raised: {e!r}"[:200]
            if got[name] != self.expected[name] or got[name] != pins.get(name, got[name]):
                self.failed += 1
        self.detail["hashes"] = got

    def steps(self):
        return [(name, self._noop(name)) for name in self.order()]

    def _noop(self, name):
        import __spark_entry__ as E

        fn = E.queries()[name]

        def step(spark):
            self.attempted += 1
            try:
                fn(spark, self.sf_dir()).write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted and recorded; the other steps go on
                self.failed += 1
                self.detail.setdefault("errors", []).append(f"{name}: {e!r}"[:500])

        return step

    def spec_payloads(self) -> list[bytes]:
        import pyarrow.parquet as pq

        from gonova_document_parser_spark.corpus import doc_to_page

        t = pq.read_table(os.path.join(self.sf_dir(), "documents.parquet"))
        cols = [t.column(c).to_pylist() for c in ("doc_id", "text", "lang")]
        return [doc_to_page(d, x, lang)["html"] for d, x, lang in zip(*cols)]

    def scan_df(self, spark):
        return spark.read.parquet(os.path.join(self.sf_dir(), "documents.parquet"))

    def trace_extra(self, spark) -> None:
        """Each query timed with count(), which Catalyst may prune, beside
        the noop walls (continuity with bench.py's methodology)."""
        import __spark_entry__ as E

        qs = E.queries()
        counts = {}
        for name in self.order():
            spark.sparkContext._jvm.System.gc()
            with self.tracer.span("query_count", query=name):
                a = time.perf_counter()
                qs[name](spark, self.sf_dir()).count()
                counts[name] = time.perf_counter() - a
        self.detail["count_walls"] = counts
        self.detail["queries.count_total_s"] = sum(v for n, v in counts.items() if n not in ITERATIVE)

    def run(self):
        e2e, layers = super().run()
        noop = {n: median(s["wall"]) for n, s in self.detail["steps"].items()}
        self.detail["total_s"] = sum(v for n, v in noop.items() if n not in ITERATIVE)
        self.detail["iterative_s"] = sum(noop[n] for n in ITERATIVE)
        return e2e, layers


WORKLOADS = {w.name: w for w in (Extract, Queries)}
