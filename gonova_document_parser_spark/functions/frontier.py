"""Bloom-filter crawl-frontier dedup — "have we ever fetched this url?"

A recrawl frontier asks a membership question against every url the
crawl has EVER seen.  The exact answer is an anti-join against the
url-digest history (``checkpoint.run_incremental`` does that for
correctness-critical commits); the frontier fast path wants a compact
approximate structure instead: a Bloom filter answers "definitely new"
(no false negatives) or "probably seen" (bounded false-positive rate),
and the filter for 10^10 urls at 1% fpp is ~12 GB of bits vs TBs of
digests.

Spark-first representation: the filter is a DATAFRAME of (word_idx,
bits) int64 words, built with one explode + one ``bit_or`` groupBy
(map-side combine collapses per-partition masks) — it never lives on
the driver, broadcasts to probes, and unions with other filters by
re-aggregating ``bit_or``.  Membership probes explode each candidate's
k positions, broadcast-join the word table, and demand all k bits set —
one narrow pass over the candidates, no corpus shuffle.

Hash variants follow the repo-wide convention: ``xxhash64`` is the fast
production default; ``affine`` (one md5 -> k affine transforms mod
2^31-1, the universal family ``dedup.py`` uses for minhash) lets the
DuckDB oracle replay bit construction AND probing exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .dedup import _affine_params, _MERSENNE31, _md5_low60
from .webgraph import host_of_url_expr


def _positions_expr(url_col: Column, m_bits: int, k: int, hash_fn: str) -> Column:
    """Array of the k bit positions for one url (deterministic, engine-
    reproducible for hash_fn='affine')."""
    if hash_fn == "affine":
        h0 = _md5_low60(url_col) % F.lit(_MERSENNE31)
        pos = [
            ((F.lit(a) * h0 + F.lit(b)) % F.lit(_MERSENNE31)) % F.lit(m_bits)
            for a, b in (_affine_params(i) for i in range(k))
        ]
    else:
        pos = [
            F.pmod(F.xxhash64(F.lit(i), url_col), F.lit(m_bits))
            for i in range(k)
        ]
    return F.array(*pos)


def url_bloom_bits(
    seen: DataFrame,
    m_bits: int,
    k: int = 5,
    url_col: str = "url",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Build the filter: (word_idx bigint, bits bigint), one row per
    int64 word with at least one bit set (<= m_bits/64 rows total).

    One explode (k positions per url) + one bit_or groupBy; duplicate
    urls cost nothing extra (idempotent OR).  Filters built with the
    same (m_bits, k, hash_fn) union by ``bit_or`` re-aggregation.
    """
    c = F.col(url_col)
    pos = F.explode(_positions_expr(c, m_bits, k, hash_fn)).alias("_pos")
    return (
        seen.select(pos)
        .select(
            (F.col("_pos") / 64).cast("bigint").alias("word_idx"),
            # shiftleft needs a literal shift in the Python API; the SQL
            # form takes the column offset directly
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias(
                "_mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("bits"))
    )


def frontier_probe(
    candidates: DataFrame,
    bloom_bits: DataFrame,
    m_bits: int,
    k: int = 5,
    url_col: str = "url",
    hash_fn: str = "xxhash64",
    broadcast_bits: bool = True,
) -> DataFrame:
    """Probe: candidates + ``probably_seen`` (true iff all k bits set).

    No false negatives by construction (same positions as the build);
    false positives occur at the standard Bloom rate
    (1 - e^(-k*n/m))^k.  Candidates explode to k probe rows, broadcast-
    join the word table, and fold back with ONE groupBy on the url —
    hits counted with a null-safe conditional sum, so an absent word row
    (left join miss) is an unset bit, not a dropped candidate.

    ``broadcast_bits=False`` is the at-scale fallback for filters beyond
    the broadcast budget (the module's own sizing math puts a 10^10-url
    filter at ~12 GB — over Spark's 8 GB broadcast-relation cap): a
    plain shuffle equi-join on ``word_idx`` (a tiny int64 key), same
    output (path agreement pinned in tests).  Keep the default up to a
    few hundred MB of filter words.
    """
    c = F.col(url_col)
    probes = candidates.select(
        c.alias("url"),
        F.explode(_positions_expr(c, m_bits, k, hash_fn)).alias("_pos"),
    ).select(
        "url",
        (F.col("_pos") / 64).cast("bigint").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias(
            "_mask"
        ),
    )
    bits_side = F.broadcast(bloom_bits) if broadcast_bits else bloom_bits
    joined = probes.join(bits_side, "word_idx", "left")
    hit = (
        F.col("bits").isNotNull()
        & (F.col("bits").bitwiseAND(F.col("_mask")) != 0)
    )
    return (
        joined.groupBy("url")
        .agg(F.sum(F.when(hit, 1).otherwise(0)).alias("_hits"))
        .select("url", (F.col("_hits") == k).alias("probably_seen"))
    )


def schedule_frontier(
    frontier: DataFrame,
    n_fetchers: int,
    default_delay_sec: float = 1.0,
    url_col: str = "url",
    priority_col: str | None = None,
    delays: DataFrame | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Politeness-aware fetch schedule for a crawl frontier.

    A polite crawler enforces a per-host delay between requests (robots
    ``Crawl-delay`` or a default), which makes the HOST the unit of
    scheduling: all of a host's urls must go to the SAME fetcher so one
    worker can space its requests locally, with no cross-worker
    coordination.  Reference behavior: the upstream service serializes
    per-source fetches through one queue (gonova-document-parser
    ``queue_manager.py``); this is the shared-nothing form of the same
    politeness contract.

    Spark-first shape: hosts hash-assign to fetchers (stateless — any
    worker can recompute the map), and the within-host fetch order is
    ONE ``row_number`` window partitioned by host (priority desc, url
    tiebreak).  ``fetch_offset_sec = (rank-1) * delay`` is each url's
    earliest-start offset inside its fetcher's lane.  The only shuffle
    is the window's hash partition on host; the optional ``delays``
    table (host, delay_sec — one row per throttled host, robots-derived)
    broadcasts.  Skew note: a mega-host forms one big window partition,
    but its output is a RANK, computable in O(n) per partition — and a
    10^6-url host at any realistic delay is years of crawl budget, so
    the cap belongs upstream (``domain_cap``) where it is enforced.

    ``hash_fn='md5'`` makes the fetcher assignment DuckDB-replayable
    (low-60-bit md5, the repo-wide hard-oracle convention);
    ``xxhash64`` is the fast production default.  Keep delay values
    exactly representable in binary (0.25, 0.5, 1.0, ...) so the
    offset products are bit-identical across engines.
    """
    host = host_of_url_expr(url_col)
    df = frontier.withColumn("host", host)
    if hash_fn == "md5":
        fetcher = (_md5_low60(F.col("host")) % F.lit(n_fetchers)).cast("int")
    else:
        fetcher = F.pmod(F.xxhash64(F.col("host")), F.lit(n_fetchers)).cast("int")
    order = [F.col(url_col).asc()]
    if priority_col is not None:
        order = [F.col(priority_col).desc()] + order
    w = Window.partitionBy("host").orderBy(*order)
    df = df.withColumn("fetch_rank", F.row_number().over(w))
    if delays is not None:
        df = df.join(F.broadcast(delays), "host", "left")
        delay = F.coalesce(F.col("delay_sec"), F.lit(float(default_delay_sec)))
    else:
        delay = F.lit(float(default_delay_sec))
    cols = [url_col, "host"]
    if priority_col is not None:
        cols.append(priority_col)
    return df.select(
        *cols,
        fetcher.alias("fetcher"),
        "fetch_rank",
        ((F.col("fetch_rank") - 1) * delay).alias("fetch_offset_sec"),
    )
