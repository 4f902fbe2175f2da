"""spark-submit entrypoint: checkpointed corpus extraction.

Usage:
  spark-submit --py-files gonova.zip jobs/extract_job.py \
      <pages_parquet_or_table> <output_path> <checkpoint_path> \
      [run_id] [n_partitions] [n_waves] [--verify] [--bucketed-table NAME]

``n_waves`` sets commit granularity (fewer waves = faster, larger at-risk
window on a kill) on a fixed wave grid: wave g commits partition ids
``[g*s, (g+1)*s)`` with ``s = ceil(n_partitions / n_waves)``, and a
resume runs only the grid waves that still hold unfinished ids, at their
original width (killed after wave 1 of 2, the re-run commits one wave;
its progress lines count waves from 1 again); ``--verify`` re-reads each
written wave and asserts the observed metrics match (audit mode, 2x read
cost); ``--bucketed-table NAME`` stages the corpus ONCE as a
managed table bucketed on partition_id — wave scans then bucket-prune
with no per-run staging copy (BENCH §1b round-4; the Iceberg
``bucket(N, url)`` production shape) — an existing table with matching
row count is reused, so resumes and re-runs skip the write entirely.

Resumable: re-running with the same run_id skips completed partitions
(see gonova_document_parser_spark.checkpoint for the protocol).
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F

from gonova_document_parser_spark.checkpoint import (
    content_digest,
    run_with_checkpoint,
    stage_bucketed_table,
)
from gonova_document_parser_spark.session import get_spark
from gonova_document_parser_spark.sources import read_pages


def main(argv: list[str]) -> None:
    verify = "--verify" in argv
    bucketed = None
    if "--bucketed-table" in argv:
        i = argv.index("--bucketed-table")
        bucketed = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    argv = [a for a in argv if a != "--verify"]
    source, output, ckpt = argv[0], argv[1], argv[2]
    run_id = argv[3] if len(argv) > 3 else "run-default"
    n_partitions = int(argv[4]) if len(argv) > 4 else 64
    n_waves = int(argv[5]) if len(argv) > 5 else 4
    spark = get_spark(app_name="gonova-extract")
    spark.sparkContext.setLogLevel("WARN")
    pages = read_pages(spark, source)
    if bucketed is not None:
        # reuse an existing staged table (resume path: the local catalog
        # may have forgotten it — restage when absent or stale).  The
        # staleness witness is content_digest of the JOINT (url, content)
        # hash, NOT a row count (a re-crawl that refetches the same url
        # set with new bytes keeps the count) and NOT a pair of per-column
        # digests (two urls swapping each other's previous html would
        # collide).
        reuse = False
        if spark.catalog.tableExists(bucketed):
            t = spark.table(bucketed)
            key = ("url", F.md5("html"))
            # partition-range check: a table staged with MORE partitions
            # than this run's n_partitions would make run_with_checkpoint
            # (which trusts the stored partition_id) silently skip every
            # row with partition_id >= n_partitions
            max_pid = t.agg(F.max("partition_id")).collect()[0][0]
            reuse = (
                content_digest(t, *key) == content_digest(pages, *key)
                and max_pid is not None
                and max_pid < n_partitions
            )
        if reuse:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
            )
            pages = spark.table(bucketed)
        else:
            pages = stage_bucketed_table(spark, pages, bucketed, n_partitions)
    summary = run_with_checkpoint(
        spark,
        pages,
        output_path=output,
        checkpoint_path=ckpt,
        run_id=run_id,
        n_partitions=n_partitions,
        input_snapshot=source,
        n_waves=n_waves,
        verify_readback=verify,
        # live per-wave progress (Q5): one JSON line per commit
        on_progress=lambda p: print(json.dumps({"progress": p}), flush=True),
    )
    print(json.dumps(summary, default=str))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
