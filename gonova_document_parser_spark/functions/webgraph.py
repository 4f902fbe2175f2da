"""Web-graph construction and centrality over crawled pages.

``outlink_host_graph`` turns raw page HTML into the host-level link graph
(the backbone of crawl frontier scheduling, spam/host-authority scoring,
and domain-weighted sampling); ``pagerank_hosts`` runs a fixed-iteration
power-iteration PageRank over it.

PageRank here is **integer-exact**: ranks are scaled integers and every
contribution is ``(r * damping_pct * w) div (100 * W)`` in int64 — no
floating-point addition anywhere, so the result is independent of
aggregation order and bit-identical to the DuckDB oracle (float PageRank
sums in different orders per engine/partitioning and can flip a rounded
digit).  Fixed ``iters`` instead of an epsilon test keeps the computation
SQL-unrollable; 5 iterations is plenty for host-level ranking
(per-iteration contraction 0.85).

Overflow bound: max intermediate is r * damping_pct * w; with the default
SCALE=1e6, r is bounded by total injected mass (< n_hosts * SCALE), so
int64 holds up to ~10^5 hosts with weights ~10^3 — raise awareness, not
SCALE, beyond that (or shard the graph).  Past the bound the function
raises (``[ARITHMETIC_OVERFLOW]``; a source whose out-weight sums to 0
raises ``[DIVIDE_BY_ZERO]``), as Spark's ANSI arithmetic does — it never
returns wrapped ranks.  Dangling hosts (no outlinks) keep their base rank
and their mass is dropped, not redistributed — the documented
simplification; the oracle replicates it exactly.

**Why the iterations run on the driver.**  That int64 envelope (~10^5
hosts) means the whole edge list fits one Arrow batch, so
``pagerank_hosts`` collects it once (``toArrow``), runs the ``iters``
steps as vectorized numpy int64 and hands the ranks back as a local
DataFrame.  Measured on a 4-core VM at local[4]:

- the ``host_pagerank`` query (sf0.01, noop sink, warm session): 27 Spark
  jobs and 2.5-2.8 s as a per-iteration ``localCheckpoint`` loop -> 5
  jobs and 0.85-1.0 s.  Each ``localCheckpoint(eager=False)`` under AQE
  runs its stages when called, so the loop paid a fixed per-execution
  cost 8 times for a 6-row answer, and ran faster on one core than four;
- synthetic skewed-out-degree graphs, identical output: 200 hosts / 2k
  edges 2.96 -> 0.16 s, 10k / 200k 6.39 -> 0.58 s, 100k / 1.33M 11.3 ->
  2.6 s; at 100k hosts the driver Python process grew ~250 MB.

Distributed forms measured and rejected (each pays at least one AQE
stage per iteration; do not re-open without new evidence), against the
checkpointed loop's 1.58-1.76 s in the same session: no per-iteration
checkpoint (15 jobs, 1.53-1.64 s), one edge checkpoint only (16 jobs,
1.91 s), co-partitioned edges with one exchange per iteration (17 jobs,
2.25 s).
"""

from __future__ import annotations

from pyspark.errors import ArithmeticException
from pyspark.sql import DataFrame, functions as F

from ..plans.partitioning import EXPR_FANOUT_MIN_BYTES, fan_out

_HREF_RE = r"""href\s*=\s*["']([^"']+)["']"""
_SCALE = 1_000_000


def host_of_url_expr(col) -> "F.Column":
    """Host of an absolute or protocol-relative url (lowercased, no port)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_extract(c, r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/:?#]+)", 1))


def outlink_host_graph(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html_text",
) -> DataFrame:
    """(src_host, dst_host, n_links) from page HTML.

    hrefs come from one ``regexp_extract_all`` over the page string (both
    quote styles); absolute and protocol-relative targets resolve to their
    own host, everything else (relative paths, fragments) to the page's
    host.  One explode + one groupBy — the aggregation keys are two host
    strings, so the shuffle carries edges, not pages.
    """
    src = host_of_url_expr(url_col)
    pages = fan_out(
        df.select(F.col(url_col), F.col(html_col)),
        min_bytes=EXPR_FANOUT_MIN_BYTES,
    ).select(
        src.alias("src_host"),
        F.explode(
            F.regexp_extract_all(F.col(html_col), F.lit(_HREF_RE), F.lit(1))
        ).alias("href"),
    )
    dst_abs = host_of_url_expr(F.col("href"))
    return (
        pages.select(
            "src_host",
            F.when(dst_abs != "", dst_abs).otherwise(F.col("src_host")).alias(
                "dst_host"
            ),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def _overflow(op: str) -> ArithmeticException:
    # the class Spark raises for the same ANSI error, so callers that catch
    # it keep working
    return ArithmeticException(message=f"[ARITHMETIC_OVERFLOW] long overflow in {op}.")


def _mul(a, b, op: str):
    """``a * b`` in int64; raises where Spark's ANSI long multiply does."""
    import numpy as np

    with np.errstate(over="ignore", divide="ignore"):
        p = a * b
        # exact: a wrapped product never divides back to ``a``, except
        # MIN * -1, which wraps to MIN
        bad = ((b != 0) & (p // np.where(b == 0, 1, b) != a)) | (
            (a == np.iinfo(np.int64).min) & (b == -1)
        )
    if np.any(bad):
        raise _overflow(op)
    return p


def _sum_by(idx, v, n: int, op: str):
    """Per-id int64 sums of ``v`` grouped by ``idx`` (ids in ``[0, n)``),
    raising where the exact sum leaves int64.  The low and high 32-bit
    halves are summed apart (neither half-sum can wrap below 2**31
    terms), so the check is exact, not a float estimate."""
    import numpy as np

    lo = np.zeros(n, np.int64)
    hi = np.zeros(n, np.int64)
    np.add.at(lo, idx, v & 0xFFFFFFFF)
    np.add.at(hi, idx, v >> 32)
    hi += lo >> 32
    if np.any((hi < -(2**31)) | (hi >= 2**31)):
        raise _overflow(op)
    return (hi << 32) | (lo & 0xFFFFFFFF)


def pagerank_hosts(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    weight: str = "n_links",
    iters: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration integer PageRank -> (host string, rank_scaled bigint).

    r_0(v) = SCALE; r_{t+1}(v) = BASE + sum over in-edges (u,v) of
    (r_t(u) * damping_pct * w(u,v)) div (100 * W(u)), all int64, where
    W(u) is u's total out-weight and BASE = (100-damping_pct)% of SCALE.
    ``div`` truncates toward zero, as Spark's does.

    Edge semantics: every host on either side of an edge is a node, a
    NULL host included (its rank is BASE); an edge from a NULL host or
    with a NULL weight contributes nothing and is not in W; an edge to a
    NULL host is in its source's W but its contribution is dropped.
    Dangling hosts keep BASE; self-loops count.  Eager: the edge list is
    collected when this is called.

    Raises ``pyspark.errors.ArithmeticException`` — never returns wrapped
    or zero ranks — with ``[DIVIDE_BY_ZERO]`` when an edge's source has
    W = 0, and ``[ARITHMETIC_OVERFLOW]`` when W, 100 * W, r * damping_pct,
    r * damping_pct * w, a host's contribution sum or BASE + that sum
    leaves int64 (Spark's ANSI errors for the same expressions).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    base = (100 - damping_pct) * _SCALE // 100
    t = edges.select(
        F.col(src).cast("string"),
        F.col(dst).cast("string"),
        F.col(weight).cast("bigint"),
    ).toArrow()
    n_e = t.num_rows
    enc = pc.dictionary_encode(
        pa.concat_arrays([t.column(0).combine_chunks(), t.column(1).combine_chunks()])
    )
    n = len(enc.dictionary)
    # a NULL host is node id n; a NULL weight drops its edge
    ids = np.asarray(enc.indices.fill_null(n), dtype=np.int64)
    w = t.column(2).combine_chunks()
    keep = (ids[:n_e] < n) & np.asarray(w.is_valid())
    s, d = ids[:n_e][keep], ids[n_e:][keep]
    w = np.asarray(w.fill_null(0), dtype=np.int64)[keep]

    denom = _mul(_sum_by(s, w, n + 1, "W"), 100, "100 * W")[s]
    if iters > 0 and np.any(denom == 0):
        raise ArithmeticException(
            message="[DIVIDE_BY_ZERO] Division by zero: a source's W is 0."
        )
    r = np.full(n + 1, _SCALE, np.int64)
    for _ in range(iters):
        num = _mul(_mul(r[s], damping_pct, "r * damping_pct"), w, "r * damping_pct * w")
        c, rem = np.divmod(num, denom)
        c += (rem != 0) & ((num < 0) != (denom < 0))  # floor -> truncation
        r = _sum_by(d, c, n + 1, "contribution sum")
        r[n] = 0  # a NULL destination's contributions are dropped
        with np.errstate(over="ignore"):
            nxt = r + base
        if np.any(((r ^ nxt) & (base ^ nxt)) < 0):  # sign differs from both addends
            raise _overflow("BASE + contribution sum")
        r = nxt

    hosts = enc.dictionary
    if enc.indices.null_count:
        hosts = pa.concat_arrays([hosts, pa.nulls(1, hosts.type)])
    else:
        r = r[:n]
    return edges.sparkSession.createDataFrame(
        pa.table({"host": hosts, "rank_scaled": pa.array(r, pa.int64())}),
        "host string, rank_scaled bigint",
    )


def anchor_text_agg(
    links: DataFrame,
    target_col: str = "target",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Anchor-text aggregation: what the web CALLS each target page.

    Inbound anchor strings are a classic relevance/label signal (they
    describe the target in other authors' words — the web-scale
    counterpart of human labels).  Output per target:
    ``(target, n_links, n_anchors, top_anchor, top_anchor_links)`` where
    ``top_anchor`` is the most frequent non-empty anchor string with a
    deterministic lexicographic-max tiebreak.

    Two hash aggregations, no window and no join: groupBy (target,
    anchor) for per-string counts (map-side combine collapses the hot
    anchors early), then groupBy target with a conditional struct-max —
    the same shape the skew-tested salted_counts family uses, so a
    mega-inlinked target (every wiki page links "home") costs one
    combiner-friendly reduce, not a sorted window.
    """
    t = F.col(target_col).alias("target")
    a = F.col(anchor_col).alias("anchor")
    per_anchor = links.select(t, a).groupBy("target", "anchor").agg(
        F.count(F.lit(1)).alias("c")
    )
    best = F.max(
        F.when(
            F.col("anchor") != "",
            F.struct(F.col("c").alias("c"), F.col("anchor").alias("anchor")),
        )
    ).alias("_best")
    return (
        per_anchor.groupBy("target")
        .agg(
            F.sum("c").alias("n_links"),
            F.count(F.lit(1)).alias("n_anchors"),
            best,
        )
        .select(
            "target",
            "n_links",
            "n_anchors",
            F.col("_best.anchor").alias("top_anchor"),
            F.col("_best.c").alias("top_anchor_links"),
        )
    )
