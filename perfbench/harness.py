"""Benchmark plumbing: the Spark session, the process tree it runs in,
Spark's status store, and the trace spans.

Everything here observes the program from outside: it starts a session
through ``session.get_spark``, reads ``/proc`` for the JVM and its Python
worker tree, and reads SQL and stage metrics from the live status store over
py4j (which works with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import ctypes
import os
import re
import signal
import statistics
import subprocess
import threading
import time

NPROC = os.cpu_count() or 1
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


# ---------------------------------------------------------------------------
# Every process the run starts ends before it does
# ---------------------------------------------------------------------------


def become_subreaper() -> None:
    """Make this process the parent of any descendant that loses its own
    parent: the helper shell ``spark-class`` leaves behind when it execs the
    JVM, and the Python worker daemon once the JVM is gone.  reap_children
    can then wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None and fields[1] == me:
                out.append(int(name))
    return out


def reap_children(grace_s: float = 20.0) -> None:
    """Stop multiprocessing's resource tracker (it ignores SIGTERM and
    lives until this process exits), then wait for every child to exit and
    collect it.  A child still running after ``grace_s`` gets SIGTERM, and
    SIGKILL ``grace_s`` later.  Children of a killed child are re-parented
    here and collected in turn."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    start = time.monotonic()
    while True:
        kids = _children()
        if not kids:
            return
        waited = time.monotonic() - start
        for pid in kids:
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
                if done:
                    continue
                if waited > 2 * grace_s:
                    os.kill(pid, signal.SIGKILL)
                elif waited > grace_s:
                    os.kill(pid, signal.SIGTERM)
            except (ChildProcessError, ProcessLookupError):  # gone meanwhile
                pass
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# Spark session inside the checkout
# ---------------------------------------------------------------------------


def spark_configs(work: str) -> dict[str, str]:
    """Session settings shared by every workload: only where scratch space
    lives (under ``work``, so a run reads and writes only inside its
    checkout) and no UI.  Heap, Arrow batch size and scan splits stay at
    ``get_spark``'s defaults, so the figures describe the configuration
    users run."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files in /tmp (the launcher JVM gets the same flag
        # through SPARK_LAUNCHER_OPTS, see run.py)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_spark(master: str, work: str):
    from gonova_document_parser_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=2 * NPROC,
        configs=spark_configs(work),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited.
    The JVM is stopped even when the session cannot be (a py4j call cut
    short by a signal leaves the gateway unusable)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            _stop_jvm(gateway)


def _stop_jvm(gateway) -> None:
    from pyspark import SparkContext

    proc = gateway.proc
    try:
        gateway.shutdown()
    finally:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------------
# The JVM + Python worker process tree
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # process ended between listing and reading
        return None
    # comm may contain spaces: fields restart after the closing paren
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the tree's summed RSS; ``peak_mb`` is the
    largest sample taken while it ran."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent); written when the run
    ends.  Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> _Span:
        t = self.tracer
        if t.enabled:
            self.rec = {
                "id": len(t.spans),
                "name": self.name,
                "parent": t._stack[-1] if t._stack else None,
                "start_s": time.perf_counter() - t._t0,
                **self.attrs,
            }
            t.spans.append(self.rec)
            t._stack.append(self.rec["id"])
        return self

    def __exit__(self, *exc) -> None:
        t = self.tracer
        if t.enabled:
            self.rec["end_s"] = time.perf_counter() - t._t0
            t._stack.pop()


# ---------------------------------------------------------------------------
# Status store: SQL metrics and stage data of one unit of work
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string as a number: bytes, seconds or a count.
    Per-task metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if m is None:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


# MapInPandas node metric -> per-layer key (operators.extract's Arrow boundary)
_ARROW = {
    "time to run Python workers": "arrow.python_run_s",
    "time to initialize Python workers": "arrow.python_init_s",
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
}


class StatusReader:
    """Reads what Spark recorded for the jobs of one job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = self.sc._jsc.sc().statusStore()
        self._group = 0

    def _last_execution(self) -> int:
        ex = self.sql.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def begin(self) -> tuple[str, int]:
        self._group += 1
        group = f"perfbench-{self._group}"
        self.sc.setJobGroup(group, group)
        return group, self._last_execution()

    def end(self, token: tuple[str, int]) -> dict:
        from py4j.protocol import Py4JJavaError

        group, last_exec = token
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        infos = [tracker.getJobInfo(j) for j in jobs]
        stage_ids = sorted({s for info in infos if info for s in info.stageIds})
        out = {
            "jobs": len(jobs),
            "tasks": 0,
            "exchange_bytes": 0,
            "output_bytes": 0,
            "executor_run_s": 0.0,
            "jvm_cpu_s": 0.0,
            "task_skew": 1.0,
            "scan_bytes": 0.0,
            **{k: 0.0 for k in _ARROW.values()},
        }
        heaviest = None
        for sid in stage_ids:
            try:
                st = self.app.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped (reused shuffle): no attempt
                continue
            out["tasks"] += st.numCompleteTasks()
            out["exchange_bytes"] += st.shuffleWriteBytes()
            out["output_bytes"] += st.outputBytes()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["jvm_cpu_s"] += st.executorCpuTime() / 1e9
            if heaviest is None or st.executorRunTime() > heaviest[1]:
                heaviest = ((sid, st.attemptId()), st.executorRunTime())
        if heaviest is not None:
            tasks = self.app.taskList(heaviest[0][0], heaviest[0][1], 100000)
            durs = [
                tasks.apply(i).duration().get()
                for i in range(tasks.size())
                if tasks.apply(i).duration().isDefined()
            ]
            if durs and statistics.median(durs) > 0:
                out["task_skew"] = max(durs) / statistics.median(durs)
        ex = self.sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= last_exec:
                continue
            vals = self.sql.executionMetrics(e.executionId())
            nodes = self.sql.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name()
                if name == "MapInPandas" and "_extract_batches" in node.desc():
                    keys = _ARROW
                elif name.startswith("Scan "):
                    keys = {"size of files read": "scan_bytes"}
                else:
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key = keys.get(metric.name())
                    if key and vals.contains(metric.accumulatorId()):
                        out[key] += parse_metric(vals.apply(metric.accumulatorId()))
        return out
