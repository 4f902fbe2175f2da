"""SparkSession factory with the engine's tuned defaults.

Settings mirror the reference's hand-tuned physical choices where an
equivalent exists (SURVEY §4): Arrow batch size ~64 docs ↔ the reference's
BATCH_SIZE=64 page batching (``config.py:44-47``); AQE on for runtime skew
handling (the reference has none); dynamic partition overwrite for
idempotent per-partition checkpointed writes (§ checkpoint module).

Importing this module also makes a reused Python worker stop re-reading
the Spark install's own archives on every task (``exempt_spark_archives``).
"""

from __future__ import annotations

import os
import zipimport

import pyspark
from pyspark.sql import SparkSession

ARROW_DOCS_PER_BATCH = 64  # reference BATCH_SIZE=64 (config.py:44-47)


def exempt_spark_archives(pyspark_archive: str | None) -> None:
    """Skip the per-task directory re-read of archives under the Spark
    install root that ``pyspark_archive`` (``<root>/python/lib/pyspark.zip``)
    sits in.

    Every Python task calls ``importlib.invalidate_caches()`` (in
    ``setup_spark_files``), and on CPython 3.11 that makes each cached
    ``zipimporter`` (one per imported subpackage prefix) re-read its
    archive's whole directory: about 0.1-0.25 s per task on a worker that
    has already run tasks.  Nothing in the install can change while the
    worker runs, so ``zipimporter.invalidate_caches`` is replaced by one
    that returns early for an archive whose realpath is under the root and
    defers to the original method for every other archive — a
    ``--py-files`` / ``addPyFile`` zip in SparkFiles' ``userFiles-*`` dir
    keeps the per-task re-read.

    The key is the install ROOT, not ``pyspark.zip`` / ``py4j-*.zip``:
    Spark 4.1 also puts ``jars/spark-core_*.jar`` on the worker path, and
    its two importers (the jar and its ``org/`` prefix) cost about 40 ms
    each; exempting only the two zips still paid about 110 ms per task.

    This runs at package import, not as a ``spark.python.daemon.module``:
    the daemon starts before ``--py-files`` reach the path, so a daemon
    module shipped in the package would fail every Python task on
    executors that receive the package only through ``--py-files``.  Every
    package UDF unpickles through a package module, whose import runs this
    module, so a reused worker pays the re-read once, on its first task.

    Does nothing when ``pyspark_archive`` is None — pyspark not imported
    from a zip, as on a driver using pip pyspark — or not laid out as
    ``<root>/python/lib/pyspark.zip`` (a pyspark.zip shipped with
    ``--py-files`` would make its SparkFiles dir's grandparent the "root"),
    or when the replacement is installed already."""
    if pyspark_archive is None:
        return
    reread = zipimport.zipimporter.invalidate_caches
    if hasattr(reread, "spark_root"):
        return
    lib = os.path.dirname(os.path.realpath(pyspark_archive))
    python = os.path.dirname(lib)
    if (os.path.basename(python), os.path.basename(lib)) != ("python", "lib"):
        return  # not <root>/python/lib/pyspark.zip: no root to trust
    root = os.path.join(os.path.dirname(python), "")

    def invalidate_caches(self):
        if not os.path.realpath(self.archive).startswith(root):
            reread(self)

    invalidate_caches.spark_root = root
    zipimport.zipimporter.invalidate_caches = invalidate_caches


exempt_spark_archives(getattr(pyspark.__loader__, "archive", None))


def get_spark(
    app_name: str = "gonova-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    configs: dict[str, str] | None = None,
) -> SparkSession:
    """Get or create the session with the engine's defaults; ``configs``
    entries are applied last and win.

    PySpark's DataFrame call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``).  With it on,
    every wrapped DataFrame/Column API call pays an active-session lookup,
    a conf read over py4j, a Python stack walk and a JVM origin set/clear
    pair — most of a query's driver-side build time.  What is lost: the
    query context of a DataFrame error no longer names the Python call
    site (file and line) of the failing expression.  PySpark caches the
    flag at the first wrapped call in the process, so it holds when this
    function creates the process's first session."""
    master = master or os.environ.get("GONOVA_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_DOCS_PER_BATCH)
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("GONOVA_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (configs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
