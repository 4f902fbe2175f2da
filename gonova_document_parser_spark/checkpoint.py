"""Checkpoint / resume / per-partition lineage+metrics (SURVEY §7.4).

Replaces the reference's Redis job-state machine (``job_manager.py:62-177``,
``queue.py:113-198``: queued -> processing -> completed/failed) with two
idempotent table writes:

  1. extracted rows, written parquet ``partitionBy(partition_id)`` under
     dynamic partition-overwrite — re-running a partition atomically
     replaces its directory, so a killed run never leaves duplicates;
  2. a checkpoint/metrics row per completed partition
     ``(run_id, partition_id, status, n_docs, n_ok, n_err, bytes_in,
     started_at, finished_at, input_snapshot)`` — the lineage record the
     reference kept per job (``queue.py:36-53``), now per partition.

Resume = a filter of the corpus to the partition ids with no completed
row, wave by wave on a fixed grid: only unfinished partitions are re-read
and re-extracted.  Crash windows: die during (1) -> no checkpoint row,
partition re-runs, overwrite is idempotent; die between (1) and (2) ->
same (``run_incremental`` first removes such dirs, see
``reconcile_orphan_partitions``).  Exactly-once output, no coordination
service.

``partition_id = pmod(xxhash64(url), n_partitions)`` is a pure function of
the row, so lineage is stable across cluster sizes and retries (the same
document always lands in the same partition).
"""

from __future__ import annotations

import datetime
import logging
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.extract import extract_pages

_LOG = logging.getLogger("gonova.checkpoint")

CHECKPOINT_SCHEMA = (
    "run_id string, partition_id int, status string, n_docs long, n_ok long, "
    "n_err long, bytes_in long, started_at timestamp, finished_at timestamp, "
    "input_snapshot string"
)


def partitioned(pages: DataFrame, n_partitions: int) -> DataFrame:
    return pages.withColumn(
        "partition_id",
        F.pmod(F.xxhash64("url"), F.lit(n_partitions)).cast("int"),
    )


def content_digest(df: DataFrame, *cols) -> tuple[int, int]:
    """(row count, order-independent multiset digest of ``xxhash64(*cols)``).

    The digest is a SUM of the per-row 64-bit hash in decimal(38,0): it
    never overflows, and unlike XOR it does not cancel pairs — with XOR a
    url present twice (a legal re-crawl) contributes nothing, so two
    deltas of repeated urls digest alike and the second is skipped as
    already done.  Hashing several columns jointly keys the per-row
    pairing (two rows swapping their contents change the digest)."""
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return agg["n"], int(agg["h"])


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop FileSystem API (local,
    HDFS and S3A paths alike)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def _read_parquet_if_exists(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame | None:
    """Read ``path`` or return None ONLY if the path does not exist.

    Existence is checked up front rather than inferred from a failed
    read, so a first run logs no PATH_NOT_FOUND query failure.  Any read
    failure of an existing path (permissions, corrupt footer, transient
    FS error, no parquet to infer a schema from) re-raises: treating
    those as "first run" would silently reprocess the whole input and
    duplicate output rows (ADVICE r2)."""
    if not _path_exists(spark, path):
        return None
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.parquet(path)


def _local_frame(spark: SparkSession, schema: str, rows: list[tuple]) -> DataFrame:
    """``rows`` as a LocalRelation: an inline VALUES table.

    ``createDataFrame(list)`` ships pickled rows through a Python RDD:
    every collect or write of it is a Python-worker job with one task per
    core.  A LocalRelation collects with no Spark job at all and writes
    from the JVM alone.  Integers are written into the SQL text; every
    other value is a named parameter, one per distinct value, so strings
    are never spliced into SQL and a wave's repeated run id and
    timestamps cross py4j once.  Columns are cast to ``schema`` once,
    outside VALUES (a cast per cell makes analysis grow steeply with the
    row count).  A datetime becomes the same epoch microseconds
    ``createDataFrame`` stores (naive = the Python process's local time),
    so timestamps round-trip unchanged."""
    fields = [f.split() for f in schema.split(",")]
    args: dict[str, object] = {}
    params: dict[tuple, str] = {}  # (type, value) -> parameter name

    def cell(value) -> str:
        if value is None:
            return "NULL"
        if isinstance(value, int) and not isinstance(value, bool):
            return str(value)
        # named: positional markers misbind inside VALUES
        key = (type(value), value)
        if key not in params:
            params[key] = f"p{len(params)}"
            args[params[key]] = value
        return f":{params[key]}"

    # VALUES needs a row: an empty frame is a NULL row under an
    # always-false filter, which the optimizer folds to an empty relation
    values = ", ".join(
        "(" + ", ".join(map(cell, row)) + ")"
        for row in rows or [(None,) * len(fields)]
    )
    cols = ", ".join(f"c{i}" for i in range(len(fields)))
    casts = ", ".join(f"CAST(c{i} AS {t}) AS {n}" for i, (n, t) in enumerate(fields))
    sql = f"SELECT {casts} FROM VALUES {values} AS t({cols})"
    return spark.sql(sql if rows else sql + " WHERE false", args=args)


def _completed_rows(
    spark: SparkSession, checkpoint_path: str, run_id: str, input_snapshot: str
) -> DataFrame | None:
    """Completed checkpoint rows of this (run, snapshot); None before the
    first commit (no checkpoint table yet)."""
    ckpt = _read_parquet_if_exists(spark, checkpoint_path, CHECKPOINT_SCHEMA)
    if ckpt is None:
        return None
    return ckpt.where(
        (F.col("run_id") == run_id)
        & (F.col("status") == "completed")
        & (F.col("input_snapshot") == input_snapshot)
    )


def completed_partitions(
    spark: SparkSession, checkpoint_path: str, run_id: str, input_snapshot: str
) -> DataFrame:
    """Distinct partition_ids already completed for this (run, snapshot)."""
    done = _completed_rows(spark, checkpoint_path, run_id, input_snapshot)
    if done is None:  # first run: no checkpoint table yet
        return _local_frame(spark, "partition_id int", [])
    return done.select("partition_id").distinct()


def _now() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


def reconcile_orphan_partitions(
    spark: SparkSession, output_path: str, checkpoint_path: str
) -> int:
    """Delete delta partition dirs that lack a completed checkpoint row.

    A wave commits its data, then its checkpoint row.  A kill between
    the two (or during the data commit's per-partition renames) leaves
    extracted rows under ``delta=S1`` with no lineage row.
    ``run_incremental``'s anti-join against the output would count those
    urls as seen, and its retry digests a new delta S2 from what is
    unseen, so nothing would ever resume S1 or give them a checkpoint
    row.  Reconciling first restores the invariant "every surviving partition dir has a
    completed checkpoint row"; the orphaned urls simply rejoin the new
    delta and extract exactly once.  A delta dir left with no partition
    dir goes too, and the output root if that empties it: a first wave
    killed before its commit leaves only a ``.spark-staging-*`` dir, and
    the retry is then a first run rather than a failed read.

    Safe on every layout: only ``delta=*/partition_id=*`` dirs are
    touched (the incremental layout; direct ``run_with_checkpoint``
    outputs have no delta level and resume through the checkpoint table
    alone, where in-place wave overwrite is already idempotent).  Uses
    the Hadoop FileSystem API, so it works on HDFS/S3A as well as
    local paths.  Driver-side state is one (run_id, partition_id) pair
    per completed partition — bounded by deltas x n_partitions, the
    same order as the checkpoint table itself.

    Returns the number of partition dirs removed.
    """
    root = spark._jvm.org.apache.hadoop.fs.Path(output_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return 0
    ckpt = _read_parquet_if_exists(spark, checkpoint_path, CHECKPOINT_SCHEMA)
    completed: set[tuple[str, int]] = set()
    if ckpt is not None:
        completed = {
            (r["run_id"], r["partition_id"])
            for r in ckpt.where(F.col("status") == "completed")
            .select("run_id", "partition_id")
            .distinct()
            .collect()
        }

    def _dataless(p):  # only _SUCCESS/hidden markers (.spark-staging-*)
        return all(
            s.getPath().getName().startswith(("_", ".")) for s in fs.listStatus(p)
        )

    removed = 0
    swept = False
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("delta=")):
            continue
        run_id = name[len("delta=") :]
        for pst in fs.listStatus(st.getPath()):
            pname = pst.getPath().getName()
            if not (pst.isDirectory() and pname.startswith("partition_id=")):
                continue
            try:
                pid = int(pname.split("=", 1)[1])
            except ValueError:
                continue
            if (run_id, pid) in completed:
                continue
            fs.delete(pst.getPath(), True)
            removed += 1
            _LOG.warning(
                "reconcile: removed orphan partition dir %s/%s "
                "(no completed checkpoint row)", name, pname,
            )
        # a delta dir left with no partition dir (emptied above, or its
        # first wave killed before the commit moved any into place) would
        # fail parquet schema inference on the next read, which is
        # deliberately NOT treated as "first run" (see
        # _read_parquet_if_exists): drop it, and the root if that empties it
        if _dataless(st.getPath()):
            fs.delete(st.getPath(), True)
            swept = True
    if swept and _dataless(root):
        fs.delete(root, True)
    return removed


def run_incremental(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    checkpoint_path: str,
    n_partitions: int = 64,
    n_waves: int = 4,
) -> dict:
    """Process only urls not yet present in the output (growing corpus).

    The crawl-append mode SURVEY §2.2 calls "incremental re-runs via
    checkpoint anti-join": each invocation extracts the delta and commits
    it under a snapshot-derived run_id, so within one delta the wave-level
    kill/resume semantics of ``run_with_checkpoint`` still apply.

    The output's ``url`` column is the one seen-set: the anti-join reads
    it column-pruned from parquet, and Spark's runtime bloom-filter join
    (session default: on) prunes the shuffle.  Each wave commits data,
    then its checkpoint row, so a kill can leave a partition dir whose
    urls the anti-join would treat as seen while no lineage row records
    them.  ``reconcile_orphan_partitions`` therefore runs first, on every
    call: it removes those dirs, their urls rejoin the delta, and they
    extract exactly once, even when the crawl input grew between the kill
    and the retry (a new snapshot id, so the killed delta never resumes).

    The snapshot id is ``content_digest`` of the delta's urls: stable
    across retries of the same delta, different for a different one, and
    a delta of repeated urls does not collide with another.
    """
    reconcile_orphan_partitions(spark, output_path, checkpoint_path)
    seen = _read_parquet_if_exists(spark, output_path)
    new_pages = (
        pages if seen is None else pages.join(seen.select("url"), "url", "left_anti")
    )
    n, h = content_digest(new_pages, "url")
    if n == 0:
        return {"run_id": None, "n_new": 0}
    snap = f"delta-{n}-{h & 0xFFFFFFFFFFFF:x}"
    # each delta gets its own partition directory: the wave-level dynamic
    # partition overwrite then only ever replaces dirs of THIS delta —
    # prior deltas' data can't be clobbered, and whole-output reads pick
    # up `delta` as a discovered partition column
    summary = run_with_checkpoint(
        spark,
        new_pages,
        output_path=f"{output_path}/delta={snap}",
        checkpoint_path=checkpoint_path,
        run_id=snap,
        n_partitions=n_partitions,
        input_snapshot=snap,
        n_waves=n_waves,
    )
    summary["n_new"] = n
    return summary


def stage_bucketed_table(
    spark: SparkSession, pages: DataFrame, table: str, n_partitions: int
) -> DataFrame:
    """Write the corpus ONCE as a managed table bucketed on partition_id —
    the production shape that makes wave scans prune with NO per-run
    staging copy (BENCH §1b; the Iceberg ``bucket(N, url)`` analog,
    expressed through the local catalog's Hive-style bucketing since the
    built-in session catalog rejects DSv2 bucket transforms).

    ``partition_id = pmod(xxhash64(url), n_partitions)`` is precomputed
    into the table, and the table is bucketed AND sorted by it: a wave's
    ``partition_id IN (...)`` filter then compiles to bucket pruning —
    the scan's ``SelectedBucketsCount`` drops to at most the wave's
    partition count, so every wave reads ~wave_size/n_partitions of the
    corpus instead of all of it, turning n_waves x corpus total scan
    volume into ~1 x corpus with zero extra copies on any re-run or
    resume (the table persists across runs).

    Returns the table as a DataFrame ready for ``run_with_checkpoint``
    (its rows already carry partition_id; ``partitioned`` recomputes the
    same value idempotently since it's a pure function of url).

    Local-mode caveat: the default in-memory catalog forgets table
    METADATA across sessions while the warehouse files persist, so a
    fresh session must restage (or run with a persistent metastore /
    Iceberg catalog in production — where this helper is one
    ``writeTo(table).partitionedBy(bucket(N, url))``).  Orphaned
    locations from a previous session are cleaned up first.  The
    persistent-catalog path is demonstrated end-to-end by
    scripts/metastore_demo.py + tests/test_metastore_resume.py: a
    Derby-backed Hive metastore carries the table across real JVM
    boundaries — the resumed session restages nothing and pruning still
    compiles (it pins autoBucketedScan.enabled=false in its OWN session
    conf, since this function isn't called on that path).
    """
    # force bucketed scans: the planner's DisableUnnecessaryBucketedScan
    # turns bucketed reading (and with it bucket PRUNING) off when no
    # join/agg wants the distribution — but pruning is exactly why the
    # table is bucketed here.  The conf change is DELIBERATELY session-
    # scoped, not restored: every later scan of the staged table (each
    # checkpoint wave, a resumed session's re-drive) must keep pruning,
    # so a scoped save/restore here would silently re-enable the
    # optimization between waves and defeat the table's purpose.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # in-memory catalog + surviving warehouse dir -> LOCATION_ALREADY_EXISTS.
    # The managed-table layout is warehouse/<tbl> for the default database
    # and warehouse/<db>.db/<tbl> otherwise — a bare + f"/{table}" misses
    # qualified names (db.tbl is NOT a directory called "db.tbl"), leaving
    # the orphan in place and the DROP+save to fail.
    parts = table.split(".")
    if len(parts) == 1:
        db, tbl = spark.catalog.currentDatabase(), parts[0]
    elif len(parts) == 2:
        db, tbl = parts
    else:
        raise ValueError(f"expected [db.]table, got {table!r}")
    rel = tbl if db == "default" else f"{db}.db/{tbl}"
    jvm = spark._jvm
    loc = jvm.org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + f"/{rel}"
    )
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)
    (
        partitioned(pages, n_partitions)
        .write.mode("overwrite")
        .bucketBy(n_partitions, "partition_id")
        .sortBy("partition_id")
        .saveAsTable(table)
    )
    return spark.table(table)


def wave_grid(n_partitions: int, n_waves: int, done_ids=()) -> list[list[int]]:
    """The waves still to run, as lists of partition ids.

    The grid is fixed by ``(n_partitions, n_waves)`` alone: wave g covers
    ids ``[g*s, (g+1)*s)`` with ``s = ceil(n_partitions / n_waves)``.  A
    resume drops ``done_ids`` from each grid wave and skips emptied ones,
    so it runs only the waves a kill left unfinished, each as wide as
    before — re-splitting the leftover ids into ``n_waves`` narrower waves
    would pay the fixed per-wave cost again on fewer busy cores."""
    size = -(-n_partitions // max(1, n_waves))
    waves = []
    for start in range(0, n_partitions, size):
        ids = [i for i in range(start, min(start + size, n_partitions)) if i not in done_ids]
        if ids:
            waves.append(ids)
    return waves


def extract_wave(wave: DataFrame, n_ids: int) -> DataFrame:
    """A wave's rows as written: ``bytes_in`` and ``extract_pages`` run
    narrow over the wave's scan, whose tasks are balanced by file splits
    (or by buckets on a bucketed source); only then does one exchange
    hash-partition the extracted rows on partition_id, so the
    ``partitionBy`` write emits one file per partition dir.

    Exchanging first instead would hash ``n_ids`` small integers into
    ``n_ids`` buckets, and Murmur3 collides: ids 0-3 land in buckets
    3, 3, 2, 3 of 4 and ids 4-5 both in bucket 0 of 2, so most extraction
    tasks got no rows and most Python workers idled.  Exchanging after
    extraction also moves the extracted text, not the larger raw html."""
    extracted = extract_pages(
        wave.withColumn("bytes_in", F.octet_length("html").cast("long")),
        passthrough=("partition_id", "bytes_in"),
    )
    return extracted.repartition(n_ids, F.col("partition_id"))


def run_with_checkpoint(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    checkpoint_path: str,
    run_id: str | None = None,
    n_partitions: int = 64,
    input_snapshot: str = "",
    n_waves: int = 4,
    verify_readback: bool = False,
    on_progress=None,
) -> dict:
    """Extract ``pages`` into ``output_path`` with exact resume.

    ``on_progress``: optional callable receiving one dict per committed wave
    ({run_id, wave, n_waves, partitions_done, partitions_total, n_docs,
    n_ok, n_err, docs_per_sec}) — the live per-job progress surface the
    reference exposed over HTTP (``job_manager.py:108-150``), here a
    driver-side hook (also logged on ``gonova.checkpoint``).

    Work proceeds in commit units on a fixed wave grid (``wave_grid``):
    wave g covers partition ids ``[g*s, (g+1)*s)``, ``s = ceil(n_partitions
    / n_waves)``.  Each wave extracts its partitions narrow over the scan
    (``extract_wave``), commits its data (dynamic partition overwrite) and
    then its checkpoint rows, one file per wave.  A kill loses at most the
    in-flight wave; the next invocation skips completed partition ids and
    runs only the grid waves that still hold unfinished ones, at their
    original width: killed after wave 1 of 2, a resume runs one wave.  In
    ``on_progress``, ``wave`` counts from 1 over this invocation's waves
    and ``n_waves`` is how many it runs.  Returns {run_id,
    partitions_done_before, partitions_total, n_docs, n_ok, n_err}.  Safe
    to call repeatedly with the same run_id: a fully-completed run is a
    no-op.

    The returned totals fold the completed checkpoint rows read at the
    start with the rows each wave commits, so closing the run reads the
    checkpoint table no second time.  They count one row per partition id
    (the first read, should a table ever hold two completed rows for one
    id) and, like the resume lookup, only ``status == "completed"`` rows
    of this ``(run_id, input_snapshot)``.

    Metrics ride the write pass via ``df.observe`` (per-partition
    conditional aggregates, retry-safe, computed by the same job that
    writes) — the extracted text is NOT re-read to meter it.
    ``verify_readback=True`` re-reads the written wave and asserts the
    observed counts match (audit mode; 2x read cost of the dominant byte
    volume, off by default).  Every wave partition id gets a checkpoint
    row, including zero-document partitions — otherwise dynamic overwrite
    writes no directory for them and resume would re-run them forever.

    Every wave re-scans the source and filters it to its partition ids.
    For a source where that scan should prune to the wave's own files,
    pass the table that ``stage_bucketed_table`` writes once (bucketed by
    ``partition_id``): it persists across runs and resumes, so no per-run
    staging copy is needed.
    """
    run_id = run_id or uuid.uuid4().hex

    # A source that ALREADY carries partition_id (stage_bucketed_table's
    # output) must keep its stored COLUMN: recomputing via withColumn
    # would replace the bucketed table's attribute with a
    # fresh pmod(xxhash64(url)) expression — same values, but the wave
    # filter then no longer references the bucket column and bucket
    # pruning silently turns off (verified in the executed plan).  The
    # stored values are the same pure function of url, so trusting the
    # column is exact; `partitioned` is only needed for raw page sources.
    corpus = (
        pages if "partition_id" in pages.columns else partitioned(pages, n_partitions)
    )
    if "partition_id" in pages.columns:
        # belt-and-braces: a source staged with MORE partitions than this
        # run's n_partitions would leave rows with partition_id >=
        # n_partitions outside every wave filter — silent data loss.  One
        # narrow-column scan is the price of refusing that.
        max_pid = corpus.agg(F.max("partition_id")).collect()[0][0]
        if max_pid is not None and max_pid >= n_partitions:
            raise ValueError(
                f"source carries partition_id up to {max_pid} but "
                f"n_partitions={n_partitions}: rows above the range would "
                "be silently skipped — restage the source or raise "
                "n_partitions"
            )
    # partition_id -> (n_docs, n_ok, n_err): the completed rows read once,
    # then each wave's rows as it commits; the closing stats come from here
    totals: dict[int, tuple[int, int, int]] = {}
    done = _completed_rows(spark, checkpoint_path, run_id, input_snapshot)
    if done is not None:
        for r in done.select("partition_id", "n_docs", "n_ok", "n_err").collect():
            totals.setdefault(r["partition_id"], (r["n_docs"], r["n_ok"], r["n_err"]))
    done_ids = set(totals)
    waves = wave_grid(n_partitions, n_waves, done_ids)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    committed = len(done_ids)
    for k, wave_ids in enumerate(waves, 1):
        started = _now()
        wave = corpus.where(F.col("partition_id").isin(wave_ids))
        # per-partition metrics as observed metrics on the write job itself:
        # one conditional aggregate triple per wave partition id, evaluated
        # JVM-side during the write — no second pass over the extracted text.
        # (Expression count is 3 * wave_size; with very wide waves either
        # raise n_waves or flip verify_readback on and meter from the data.)
        obs = Observation(f"wave-{run_id}-{wave_ids[0]}")
        exprs = []
        for pid in wave_ids:
            p = F.col("partition_id") == pid
            exprs.append(
                F.sum(F.when(p & F.col("success"), 1).otherwise(0)).alias(f"ok_{pid}")
            )
            exprs.append(
                F.sum(F.when(p & ~F.col("success"), 1).otherwise(0)).alias(f"err_{pid}")
            )
            exprs.append(
                F.sum(F.when(p, F.col("bytes_in")).otherwise(0)).alias(f"bytes_{pid}")
            )
        (
            extract_wave(wave, len(wave_ids))
            .observe(obs, *exprs)
            .write.partitionBy("partition_id")
            .mode("overwrite")
            .parquet(output_path)
        )
        got = obs.get  # blocks until the write action finished
        finished = _now()
        ckpt_rows = []  # one row per wave pid, zero-doc partitions included
        for pid in wave_ids:
            n_ok = int(got[f"ok_{pid}"] or 0)
            n_err = int(got[f"err_{pid}"] or 0)
            ckpt_rows.append(
                (
                    run_id,
                    pid,
                    "completed",
                    n_ok + n_err,
                    n_ok,
                    n_err,
                    int(got[f"bytes_{pid}"] or 0),
                    started,
                    finished,
                    input_snapshot,
                )
            )
        if verify_readback:
            meter = {
                r["partition_id"]: r
                for r in spark.read.parquet(output_path)
                .where(F.col("partition_id").isin(wave_ids))
                .groupBy("partition_id")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum(F.col("success").cast("long")).alias("n_ok"),
                    F.sum((~F.col("success")).cast("long")).alias("n_err"),
                    F.sum("bytes_in").alias("bytes_in"),
                )
                .collect()
            }
            for row in ckpt_rows:
                pid, n_docs, n_ok, n_err, n_bytes = row[1], row[3], row[4], row[5], row[6]
                read = meter.get(pid)
                got_back = (
                    (read["n_docs"], read["n_ok"], read["n_err"], read["bytes_in"])
                    if read is not None
                    else (0, 0, 0, 0)
                )
                if got_back != (n_docs, n_ok, n_err, n_bytes):
                    raise RuntimeError(
                        f"checkpoint meter mismatch for partition {pid}: "
                        f"observed {(n_docs, n_ok, n_err, n_bytes)} vs "
                        f"read-back {got_back}"
                    )
        # one JVM task, one file per wave commit
        _local_frame(spark, CHECKPOINT_SCHEMA, ckpt_rows).coalesce(1).write.mode(
            "append"
        ).parquet(checkpoint_path)
        committed += len(wave_ids)
        totals.update((r[1], (r[3], r[4], r[5])) for r in ckpt_rows)
        wave_docs = sum(r[3] for r in ckpt_rows)
        wave_secs = max((finished - started).total_seconds(), 1e-9)
        progress = {
            "run_id": run_id,
            "wave": k,
            "n_waves": len(waves),
            "partitions_done": committed,
            "partitions_total": n_partitions,
            "n_docs": wave_docs,
            "n_ok": sum(r[4] for r in ckpt_rows),
            "n_err": sum(r[5] for r in ckpt_rows),
            "docs_per_sec": round(wave_docs / wave_secs, 1),
        }
        _LOG.info("wave committed: %s", progress)
        if on_progress is not None:
            on_progress(progress)

    return {
        "run_id": run_id,
        "partitions_done_before": len(done_ids),
        "partitions_total": len(totals),
        "n_docs": sum(t[0] for t in totals.values()),
        "n_ok": sum(t[1] for t in totals.values()),
        "n_err": sum(t[2] for t in totals.values()),
    }
