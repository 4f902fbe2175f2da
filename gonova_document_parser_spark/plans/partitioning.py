"""Partitioning & skew policy (SURVEY §4, "Skew handling" row).

The reference has no skew story (one giant PDF starves an RQ worker; closest
is the MAX_PAGES_PER_BATCH=1000 cap, ``config.py:48-51``).  At 10^12-document
scale a Common-Crawl corpus is heavily host-skewed (one hot host can hold
half the crawl — our fixture corpus reproduces exactly that), and crawl files
cluster by host, so naive file-split partitions put the hot host's documents
on a handful of executors.

Policy:
  - ``spread_by_url``: hash-repartition on ``xxhash64(url)`` — URLs are
    unique, so this is a perfectly uniform spread regardless of host skew;
    used before the (narrow) extraction map when the input is host-clustered.
  - ``with_host_salt``: for *per-host* aggregations (where the host IS the
    key and hashing the url away is not allowed), split hot keys across
    ``n_salts`` sub-keys; aggregate partially per (host, salt), then merge —
    the classic two-level salted aggregation.
  - AQE stays on (session default) for runtime skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Threshold below which fan_out skips the repartition for pure-JVM
# expression expansions (see fan_out docstring).  The sf0.1 bench input
# estimates at ~0.25 MB where the skip saves ~0.3-0.5 s/query; the
# single-task compute grows linearly with input while the exchange cost
# is ~constant, so the breakeven sits around 3-4x that size — 1 MB keeps
# a margin on both sides (skip up to ~4x bench scale, spread beyond).
# A real corpus scan is TBs and always spreads (or is already split).
EXPR_FANOUT_MIN_BYTES = 1024 * 1024


def host_of(url_col="url"):
    """Host component of the url (pure column expression, JVM-side)."""
    return F.parse_url(F.col(url_col), F.lit("HOST"))


def spread_by_url(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Uniform spread by url hash; kills host-clustering before a narrow map."""
    key = F.xxhash64("url")
    return df.repartition(num_partitions, key) if num_partitions else df.repartition(key)


def plan_extraction_partitions(
    df: DataFrame,
    default_parallelism: int,
    rows_per_partition: int = 2000,
    max_partitions: int = 100_000,
    row_count: int | None = None,
) -> DataFrame:
    """Size partitions so each task holds ~rows_per_partition documents.

    At 100 TB the per-task input must be bounded by bytes, not files; for the
    pages table (payloads ~1-200 KB) a row budget is the stable proxy.  The
    partition count is rounded up to a multiple of the parallelism so no
    final straggler wave runs half-empty.
    """
    n = row_count if row_count is not None else df.count()
    want = max(1, (n + rows_per_partition - 1) // rows_per_partition)
    waves = max(1, (want + default_parallelism - 1) // default_parallelism)
    return spread_by_url(df, min(waves * default_parallelism, max_partitions))


def fan_out(df: DataFrame, min_bytes: int | None = None) -> DataFrame:
    """Ensure at least defaultParallelism partitions before a per-row
    EXPANSION operator (explode, shingle, tokenize).

    Scans of small/compacted inputs can carry fewer tasks than cores; the
    expansion multiplies rows AFTER the scan, so the cheap fix is one
    round-robin shuffle of the small pre-expansion rows.  No-op when the
    plan already has enough partitions (the 100 TB case — scans there carry
    thousands of tasks), so it is safe to apply unconditionally.

    ``min_bytes`` makes the spread SIZE-adaptive (optimization round 6):
    when the optimizer's estimated input size is below the threshold the
    repartition is skipped even if the scan is a single task — for pure-JVM
    expression expansions over a couple of MB, the exchange (which pays a
    local sort before round-robin, SPARK-23207) plus an extra 32-task stage
    costs ~0.3-0.5 s while the single-task compute is cheaper than that
    (measured, OPTIMIZATION_r06.md).  The estimate comes from plan
    statistics (driver-side, no job), so the decision scales with the
    input: a 100 TB scan is always far above any threshold and behaves
    exactly as before.  Callers whose per-row work is Python/Arrow (orders
    of magnitude above JVM expressions per byte) keep ``min_bytes=None`` —
    they need the spread even for tiny inputs.  ``EXPR_FANOUT_MIN_BYTES``
    is the shared threshold for JVM-expression call sites; call sites that
    must always spread pass ``min_bytes=0`` (or omit it).
    """
    want = df.sparkSession.sparkContext.defaultParallelism
    if min_bytes is not None and min_bytes > 0:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        if est < min_bytes:
            return df
    return df.repartition(want) if df.rdd.getNumPartitions() < want else df


def with_host_salt(df: DataFrame, n_salts: int = 16, url_col: str = "url") -> DataFrame:
    """Add (host, salt) columns for two-level salted per-host aggregation.

    salt = pmod(xxhash64(url), n_salts) is deterministic per row (no rand()),
    so retries and resume reproduce identical partitioning.
    """
    return df.withColumn("host", host_of(url_col)).withColumn(
        "salt", F.pmod(F.xxhash64(url_col), F.lit(n_salts)).cast("int")
    )


def salted_host_counts(df: DataFrame, n_salts: int = 16, url_col: str = "url") -> DataFrame:
    """docs-per-host via two-level aggregation (partial per (host,salt))."""
    return (
        with_host_salt(df, n_salts, url_col)
        .groupBy("host", "salt")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("host")
        .agg(F.sum("c").alias("n_docs"))
    )
