"""Checkpoint/lineage/resume fixtures (FIXTURES.md §3 resume contract).

A real kill -9 mid-run is exercised by the verify drive (see
.claude/skills/verify/SKILL.md); here the crash window is simulated by
erasing half the checkpoint rows + their output dirs, then asserting the
re-run restores exactly the missing partitions (no dup/missing urls).
"""

import datetime
import glob
import shutil

import pyspark.sql.functions as F
import pytest

from gonova_document_parser_spark.checkpoint import (
    completed_partitions,
    extract_wave,
    partitioned,
    run_with_checkpoint,
    wave_grid,
)
from gonova_document_parser_spark.corpus import generate_pages

N_DOCS = 300
N_PARTS = 8


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "ckpt")


def _checkpoint_totals(spark, ckpt, run_id):
    """The closing stats as a Spark aggregate over the checkpoint table."""
    r = (
        spark.read.parquet(ckpt)
        .where((F.col("run_id") == run_id) & (F.col("status") == "completed"))
        .agg(
            F.countDistinct("partition_id").alias("partitions_total"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_ok").alias("n_ok"),
            F.sum("n_err").alias("n_err"),
        )
        .collect()[0]
    )
    return r.asDict()


def _totals(stats):
    return {k: stats[k] for k in ("partitions_total", "n_docs", "n_ok", "n_err")}


def test_full_run_then_noop(spark, paths):
    out, ckpt = paths
    pages = generate_pages(spark, N_DOCS, num_partitions=4)
    s1 = run_with_checkpoint(
        spark, pages, out, ckpt, run_id="r1", n_partitions=N_PARTS, n_waves=4
    )
    assert s1["partitions_done_before"] == 0
    assert s1["partitions_total"] == N_PARTS
    assert s1["n_docs"] == N_DOCS
    assert _totals(s1) == _checkpoint_totals(spark, ckpt, "r1")
    result = spark.read.parquet(out)
    assert result.count() == N_DOCS
    assert result.select("url").distinct().count() == N_DOCS

    seen = []
    s2 = run_with_checkpoint(
        spark, pages, out, ckpt, run_id="r1", n_partitions=N_PARTS, n_waves=4,
        on_progress=seen.append,
    )
    assert s2["partitions_done_before"] == N_PARTS  # no-op rerun
    assert seen == []  # no wave ran, yet the totals are the full run's
    assert _totals(s2) == _totals(s1)
    assert spark.read.parquet(out).count() == N_DOCS


def test_resume_after_simulated_crash(spark, paths, tmp_path):
    out, ckpt = paths
    pages = generate_pages(spark, N_DOCS, num_partitions=4)
    run_with_checkpoint(
        spark, pages, out, ckpt, run_id="r1", n_partitions=N_PARTS, n_waves=4
    )

    # simulate a crash that lost partitions >= 4: drop their ckpt rows + data
    kept = spark.read.parquet(ckpt).where(F.col("partition_id") < 4)
    ckpt2 = str(tmp_path / "ckpt2")
    kept.write.parquet(ckpt2)
    for pid in range(4, N_PARTS):
        shutil.rmtree(f"{out}/partition_id={pid}")

    s = run_with_checkpoint(
        spark, pages, out, ckpt2, run_id="r1", n_partitions=N_PARTS, n_waves=4
    )
    assert s["partitions_done_before"] == 4
    assert s["partitions_total"] == N_PARTS
    result = spark.read.parquet(out)
    assert result.count() == N_DOCS
    assert result.select("url").distinct().count() == N_DOCS

    # lineage: every partition has exactly one completed checkpoint row
    rows = (
        spark.read.parquet(ckpt2)
        .where(F.col("status") == "completed")
        .groupBy("partition_id")
        .count()
        .collect()
    )
    assert len(rows) == N_PARTS
    assert all(r["count"] == 1 for r in rows)


def test_incremental_processes_only_new_urls(spark, paths):
    from gonova_document_parser_spark.checkpoint import run_incremental

    out, ckpt = paths
    first = generate_pages(spark, 200, num_partitions=2)
    s1 = run_incremental(spark, first, out, ckpt, n_partitions=4, n_waves=2)
    assert s1["n_new"] == 200
    assert spark.read.parquet(out).count() == 200

    grown = generate_pages(spark, 300, num_partitions=2)  # 100 appended
    s2 = run_incremental(spark, grown, out, ckpt, n_partitions=4, n_waves=2)
    assert s2["n_new"] == 100  # only the delta was extracted
    result = spark.read.parquet(out)
    assert result.count() == 300
    assert result.select("url").distinct().count() == 300

    s3 = run_incremental(spark, grown, out, ckpt, n_partitions=4, n_waves=2)
    assert s3["n_new"] == 0  # steady state: no-op
    assert spark.read.parquet(out).count() == 300


def test_partition_id_is_stable_function_of_url(spark):
    pages = generate_pages(spark, 50, num_partitions=2)
    from gonova_document_parser_spark.checkpoint import partitioned

    a = {r["url"]: r["partition_id"] for r in partitioned(pages, 16).collect()}
    b = {
        r["url"]: r["partition_id"]
        for r in partitioned(pages.repartition(7), 16).collect()
    }
    assert a == b


def test_completed_partitions_empty_when_no_table(spark, tmp_path):
    df = completed_partitions(spark, str(tmp_path / "nope"), "r1", "")
    assert df.count() == 0
    # a first run's lookup is an empty local relation: collecting it
    # schedules no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("first-run-lookup", "first-run-lookup")
    try:
        assert df.collect() == []
        assert list(sc.statusTracker().getJobIdsForGroup("first-run-lookup")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_zero_doc_partitions_get_checkpoint_rows(spark, paths):
    """ADVICE r1: partitions with no documents must still emit a 'completed'
    checkpoint row, else resume re-runs them forever and the summary
    undercounts partitions_total."""
    out, ckpt = paths
    # 5 docs into 32 partitions -> most partitions are empty
    pages = generate_pages(spark, 5, num_partitions=2)
    s1 = run_with_checkpoint(
        spark, pages, out, ckpt, run_id="rz", n_partitions=32, n_waves=2
    )
    assert s1["partitions_total"] == 32
    assert s1["n_docs"] == 5
    ck = spark.read.parquet(ckpt)
    assert ck.where(F.col("status") == "completed").count() == 32
    assert ck.where(F.col("n_docs") == 0).count() == 32 - ck.where(
        F.col("n_docs") > 0
    ).count()
    # second invocation is a true no-op: every partition already done
    s2 = run_with_checkpoint(
        spark, pages, out, ckpt, run_id="rz", n_partitions=32, n_waves=2
    )
    assert s2["partitions_done_before"] == 32


def test_verify_readback_mode(spark, paths):
    """Audit mode re-reads the written wave and must agree with the observed
    metrics (raises on mismatch)."""
    out, ckpt = paths
    pages = generate_pages(spark, 60, num_partitions=2)
    s = run_with_checkpoint(
        spark, pages, out, ckpt, run_id="rv", n_partitions=4, n_waves=2,
        verify_readback=True,
    )
    assert s["n_docs"] == 60
    assert s["n_ok"] + s["n_err"] == 60


def test_per_wave_progress_hook(spark, paths):
    """Q5 live progress: one callback per committed wave with cumulative
    partition counts and per-wave doc totals."""
    out, ckpt = paths
    pages = generate_pages(spark, 80, num_partitions=2)
    seen = []
    s = run_with_checkpoint(
        spark, pages, out, ckpt, run_id="rp", n_partitions=8, n_waves=4,
        on_progress=seen.append,
    )
    assert [p["wave"] for p in seen] == [1, 2, 3, 4]
    assert all(p["partitions_total"] == 8 for p in seen)
    assert [p["partitions_done"] for p in seen] == [2, 4, 6, 8]
    assert sum(p["n_docs"] for p in seen) == 80 == s["n_docs"]
    assert all(p["docs_per_sec"] > 0 for p in seen)


def _assert_every_partition_dir_has_completed_row(spark, out, ckpt):
    """Lineage invariant of the incremental layout: every surviving
    delta=*/partition_id=* dir has a completed checkpoint row."""
    import os

    ck = spark.read.parquet(ckpt).where(F.col("status") == "completed")
    have_rows = {(r["run_id"], r["partition_id"]) for r in ck.collect()}
    for delta_dir in glob.glob(f"{out}/delta=*"):
        rid = os.path.basename(delta_dir).split("=", 1)[1]
        for pdir in glob.glob(f"{delta_dir}/partition_id=*"):
            pid = int(os.path.basename(pdir).split("=", 1)[1])
            assert (rid, pid) in have_rows


def test_incremental_grown_input_after_midrun_crash(spark, paths, tmp_path):
    """ADVICE r2 crash window: a delta dies after wave 1 of 2 and the
    crawl input GROWS before the retry (new snapshot id).  The urls that
    wave 1 committed anti-join out against the output and are never
    re-extracted into the new delta; the lost ones extract once."""
    from gonova_document_parser_spark.checkpoint import run_incremental

    out, ckpt = paths
    first = generate_pages(spark, 60, num_partitions=2)
    s1 = run_incremental(spark, first, out, ckpt, n_partitions=4, n_waves=2)
    snap = s1["run_id"]
    # simulate dying after wave 1 of 2: partitions 2,3 lose their data
    # AND checkpoint rows (the commit order data -> checkpoint row means
    # a real kill can only lose suffixes of that order)
    kept = spark.read.parquet(ckpt).where(F.col("partition_id") < 2)
    ckpt2 = str(tmp_path / "ckpt2")
    kept.write.parquet(ckpt2)
    for pid in (2, 3):
        shutil.rmtree(f"{out}/delta={snap}/partition_id={pid}", ignore_errors=True)

    grown = generate_pages(spark, 90, num_partitions=2)  # crawl grew mid-crash
    run_incremental(spark, grown, out, ckpt2, n_partitions=4, n_waves=2)
    result = spark.read.parquet(out)
    assert result.select("url").distinct().count() == 90
    assert result.count() == 90  # committed urls were NOT extracted twice
    _assert_every_partition_dir_has_completed_row(spark, out, ckpt2)


def test_incremental_grown_input_after_data_committed_rows_lost_crash(
    spark, paths, tmp_path
):
    """ADVICE r3 window: a kill BETWEEN a wave's data commit and its
    checkpoint row leaves extracted rows under delta=S1 with no lineage
    row.  The anti-join would count those urls as seen forever, and with
    a grown input the retry computes a new snapshot, so S1 never resumes.
    reconcile_orphan_partitions removes the orphan dirs first: every url
    appears exactly once and every partition dir has a completed row."""
    from gonova_document_parser_spark.checkpoint import run_incremental

    out, ckpt = paths
    first = generate_pages(spark, 60, num_partitions=2)
    run_incremental(spark, first, out, ckpt, n_partitions=4, n_waves=2)
    # simulate dying between wave 2's data write and its checkpoint row:
    # partitions 2,3 KEEP their data but lose their checkpoint rows
    kept = spark.read.parquet(ckpt).where(F.col("partition_id") < 2)
    ckpt2 = str(tmp_path / "ckpt2")
    kept.write.parquet(ckpt2)
    # orphaned data rows exist right now
    assert spark.read.parquet(out).count() == 60

    grown = generate_pages(spark, 90, num_partitions=2)  # crawl grew mid-crash
    run_incremental(spark, grown, out, ckpt2, n_partitions=4, n_waves=2)
    result = spark.read.parquet(out)
    assert result.select("url").distinct().count() == 90
    assert result.count() == 90  # orphans reconciled away, no duplicates
    # invariant restored: every surviving partition dir has a completed row
    _assert_every_partition_dir_has_completed_row(spark, out, ckpt2)


def test_incremental_repeated_urls_get_distinct_snapshots(spark, paths):
    """A re-crawl may list a url twice.  Two deltas that each hold every
    url twice must get different snapshot ids: an XOR digest cancels the
    pairs to 0 in both, so the second delta looked already completed and
    none of its urls were written."""
    from gonova_document_parser_spark.checkpoint import run_incremental

    out, ckpt = paths
    first = generate_pages(spark, 20, num_partitions=1)
    s1 = run_incremental(
        spark, first.unionByName(first), out, ckpt, n_partitions=4, n_waves=2
    )
    assert s1["n_new"] == 40

    grown = generate_pages(spark, 40, num_partitions=1)  # 20 new urls, each twice
    s2 = run_incremental(
        spark, grown.unionByName(grown), out, ckpt, n_partitions=4, n_waves=2
    )
    assert s2["n_new"] == 40
    assert s2["run_id"] != s1["run_id"]
    assert s2["partitions_done_before"] == 0
    assert s2["n_docs"] == 40
    result = spark.read.parquet(out)
    want = {r["url"] for r in grown.select("url").collect()}
    assert len(want) == 40
    assert {r["url"] for r in result.select("url").collect()} == want
    assert result.count() == 80  # every input row extracted exactly once
    _assert_every_partition_dir_has_completed_row(spark, out, ckpt)


def test_incremental_first_wave_killed_before_commit(spark, paths):
    """A kill during the first delta's first data write leaves only the
    write's hidden staging dir under delta=S.  The retry must run as a
    first run: a dir tree with no parquet fails schema inference, and an
    existing output is never silently treated as empty."""
    import os

    from gonova_document_parser_spark.checkpoint import run_incremental

    out, ckpt = paths
    staging = f"{out}/delta=delta-40-0/.spark-staging-0/partition_id=0"
    os.makedirs(staging)
    open(f"{staging}/part-00000.parquet", "wb").close()

    pages = generate_pages(spark, 40, num_partitions=2)
    s = run_incremental(spark, pages, out, ckpt, n_partitions=4, n_waves=2)
    assert s["n_new"] == 40
    result = spark.read.parquet(out)
    assert result.count() == 40
    assert result.select("url").distinct().count() == 40
    assert not os.path.exists(f"{out}/delta=delta-40-0")
    _assert_every_partition_dir_has_completed_row(spark, out, ckpt)


def test_reconcile_noop_on_healthy_output(spark, paths):
    """reconcile must not touch a healthy incremental output."""
    from gonova_document_parser_spark.checkpoint import (
        reconcile_orphan_partitions,
        run_incremental,
    )

    out, ckpt = paths
    pages = generate_pages(spark, 40, num_partitions=2)
    run_incremental(spark, pages, out, ckpt, n_partitions=4, n_waves=2)
    assert reconcile_orphan_partitions(spark, out, ckpt) == 0
    assert spark.read.parquet(out).count() == 40


def test_bucketed_table_wave_pruning(spark, paths):
    """BENCH §1b production shape (VERDICT r3 #8): the corpus written ONCE
    as a managed table bucketed on partition_id makes each wave's
    partition_id IN (...) filter compile to bucket pruning — the scan
    reads only the wave's buckets, no per-run staging copy — and the
    checkpointed run off the table is url/text-identical to the plain
    parquet run."""
    import re

    from gonova_document_parser_spark.checkpoint import stage_bucketed_table

    out, ckpt = paths
    pages = generate_pages(spark, 200, num_partitions=4)
    t = stage_bucketed_table(spark, pages, "corpus_bucketed_test", N_PARTS)
    try:
        # plan assertion: a 2-partition wave filter reads 2 of N buckets —
        # including the EXACT shape run_with_checkpoint builds (bytes_in
        # added, partition_id kept as the STORED column; recomputing it
        # via withColumn would silently disable pruning)
        wave = t.where(F.col("partition_id").isin([1, 5])).withColumn(
            "bytes_in", F.octet_length("html").cast("long")
        )
        plan = wave._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, f"no bucket pruning in plan:\n{plan[:800]}"
        assert int(m.group(1)) <= 2 and int(m.group(2)) == N_PARTS

        s = run_with_checkpoint(
            spark, t, out, ckpt, run_id="rb", n_partitions=N_PARTS, n_waves=4
        )
        assert s["n_docs"] == 200
        got = {
            (r["url"], r["extracted_text"])
            for r in spark.read.parquet(out).collect()
        }
        from gonova_document_parser_spark.operators.extract import extract_pages

        want = {
            (r["url"], r["extracted_text"])
            for r in extract_pages(pages).collect()
        }
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS corpus_bucketed_test")
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        )


def test_read_fallback_scoped_to_missing_path(spark, paths):
    """ADVICE r2: only a MISSING output path means 'first run'.  An
    existing-but-unreadable path (here: a dir with no parquet) re-raises
    instead of silently reprocessing the entire input into duplicates."""
    import os

    from gonova_document_parser_spark.checkpoint import run_incremental

    out, ckpt = paths
    os.makedirs(out)  # exists, but holds no readable parquet
    pages = generate_pages(spark, 10, num_partitions=1)
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA|Unable to infer"):
        run_incremental(spark, pages, out, ckpt, n_partitions=2, n_waves=1)


class _Killed(Exception):
    """Raised from on_progress to kill a run at a wave boundary."""


def test_wave_grid_is_fixed_across_invocations():
    assert wave_grid(8, 2) == [[0, 1, 2, 3], [4, 5, 6, 7]]
    assert wave_grid(8, 3) == [[0, 1, 2], [3, 4, 5], [6, 7]]
    # a resume keeps each grid wave at its width minus finished ids, and
    # drops grid waves with nothing left
    assert wave_grid(8, 2, {0, 1, 2, 3}) == [[4, 5, 6, 7]]
    assert wave_grid(8, 3, {0, 1, 2, 4}) == [[3, 5], [6, 7]]
    assert wave_grid(8, 2, set(range(8))) == []
    # more waves than partitions: one partition per wave
    assert wave_grid(3, 8) == [[0], [1], [2]]


def test_wave_extracts_before_partition_exchange(spark, tmp_path):
    """A wave's MapInPandas reads the (file-split-balanced) scan directly;
    the one hashpartitioning(partition_id) exchange sits above it, feeding
    the partitionBy write.  Below extraction, an exchange of a few small
    integers into as many buckets would leave most Python workers idle."""
    src = str(tmp_path / "pages")
    generate_pages(spark, 80, num_partitions=4).write.parquet(src)
    wave = partitioned(spark.read.parquet(src), N_PARTS).where(
        F.col("partition_id").isin([0, 1, 2, 3])
    )
    lines = extract_wave(wave, 4)._jdf.queryExecution().executedPlan().toString()
    lines = lines.splitlines()
    at = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
    above, below = "\n".join(lines[:at]), "\n".join(lines[at + 1 :])
    assert "Exchange hashpartitioning(partition_id" in above
    assert "Exchange" not in below
    assert "FileScan parquet" in below


@pytest.mark.parametrize(
    "n_waves, resumed_done", [(2, [N_PARTS]), (3, [6, N_PARTS])]
)
def test_kill_after_first_wave_resumes_unfinished_grid_waves(
    spark, paths, n_waves, resumed_done
):
    """Killed at wave 1, a resume commits only the grid waves left, at
    their original width — one wave for n_waves=2 (re-splitting the four
    leftover ids into n_waves waves would commit two) — and the output
    holds every input url exactly once."""
    out, ckpt = paths
    pages = generate_pages(spark, N_DOCS, num_partitions=4)
    kw = dict(run_id="rk", n_partitions=N_PARTS, n_waves=n_waves)

    def kill(progress):
        if progress["wave"] == 1:
            raise _Killed()

    with pytest.raises(_Killed):
        run_with_checkpoint(spark, pages, out, ckpt, on_progress=kill, **kw)
    seen = []
    s = run_with_checkpoint(spark, pages, out, ckpt, on_progress=seen.append, **kw)

    first = len(wave_grid(N_PARTS, n_waves)[0])
    assert s["partitions_done_before"] == first
    assert [p["partitions_done"] for p in seen] == resumed_done
    assert [p["wave"] for p in seen] == list(range(1, len(resumed_done) + 1))
    assert all(p["n_waves"] == len(resumed_done) for p in seen)
    assert s["n_docs"] == N_DOCS
    assert _totals(s) == _checkpoint_totals(spark, ckpt, "rk")
    result = spark.read.parquet(out)
    want = {r["url"] for r in pages.select("url").collect()}
    assert result.count() == N_DOCS
    assert {r["url"] for r in result.select("url").collect()} == want


def test_checkpoint_rows_round_trip_one_file_per_wave(spark, paths, monkeypatch):
    """Checkpoint rows keep their types and exact timestamp values (the
    epoch microseconds createDataFrame stores for the same naive
    datetimes), every row of a wave shares its started/finished pair, and
    each wave commit appends exactly one file."""
    from gonova_document_parser_spark import checkpoint

    out, ckpt = paths
    base = datetime.datetime(2026, 3, 1, 12, 0, 0, 123457)
    stamps = [base + datetime.timedelta(seconds=7 * i, microseconds=i) for i in range(4)]
    calls = iter(stamps)  # started, finished per wave; two waves
    monkeypatch.setattr(checkpoint, "_now", lambda: next(calls))
    pages = generate_pages(spark, 40, num_partitions=2)
    run_with_checkpoint(spark, pages, out, ckpt, run_id="rt", n_partitions=4, n_waves=2)

    ck = spark.read.parquet(ckpt)
    assert ck.dtypes == spark.createDataFrame([], checkpoint.CHECKPOINT_SCHEMA).dtypes
    micros = F.unix_micros
    got = ck.select(
        "partition_id", "started_at", "finished_at",
        micros("started_at").alias("s_us"), micros("finished_at").alias("f_us"),
    ).orderBy("partition_id").collect()
    ref = spark.createDataFrame(
        [(stamps[0], stamps[1])] * 2 + [(stamps[2], stamps[3])] * 2,
        "started_at timestamp, finished_at timestamp",
    ).select(
        "started_at", "finished_at",
        micros("started_at").alias("s_us"), micros("finished_at").alias("f_us"),
    ).collect()
    assert [r["partition_id"] for r in got] == [0, 1, 2, 3]
    assert [tuple(r)[1:] for r in got] == [tuple(r) for r in ref]
    assert [r["started_at"] for r in got] == [stamps[0]] * 2 + [stamps[2]] * 2
    assert len(glob.glob(f"{ckpt}/part-*")) == 2

