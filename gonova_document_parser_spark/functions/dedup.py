"""Deduplication operators for webtext curation — Spark-first designs.

All hot paths are built-in column expressions (JVM, codegen); the only
shuffles are the groupBys/joins that the algorithms inherently require:

  - exact:          1 shuffle (groupBy md5 of normalized text)
  - n-gram Jaccard: explode shingles -> self-join on shingle -> 1 agg
  - MinHash+LSH:    explode -> per-doc min-agg (1 shuffle) -> band hash ->
                    self-join on (band, hash) — candidates only, verify after
  - SimHash:        explode tokens -> 64 bit-vote aggs in ONE groupBy pass

Scale notes: shingle self-joins are quadratic per shingle bucket, so the
LSH path (band join) is the 100 TB road; the Jaccard join is the oracle-
checkable exact method for verification at small scale.  Hot shingles
(stopword runs) are capped via ``max_docs_per_shingle`` to bound bucket
blowup — the same idea as dropping ubiquitous shingles in public MinHash
implementations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.partitioning import EXPR_FANOUT_MIN_BYTES, fan_out
from .textstats import normalized_text_expr, tokens_expr


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content hash."""
    return (
        df.select(F.col(id_col), F.md5(normalized_text_expr(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keeper"),
        )
    )


def shingles_from_tokens(toks: "F.Column", n: int) -> "F.Column":
    """array<string> of word n-gram shingles from a MATERIALIZED token
    array column — callers project ``tokens_expr`` into a column first so
    the split/lower/trim runs once per row instead of once per reference
    (this expression refers to the token array 2n+1 times; inlining the
    tokenizer here re-split the text ~7x per row for n=3 — the optimizer's
    CollapseProject keeps a non-cheap multi-referenced alias materialized,
    verified in plans/r06/*_after.txt).

    n shifted O(k) slices zipped per DOC, not per shingle: the naive
    per-position slice inside the lambda is O(k^2) per doc.  Element i
    (0-based) starts at token i, so the array position doubles as the
    shingle's token offset (``duplicated_spans`` relies on this)."""
    m = F.size(toks) - (n - 1)  # number of shingles
    shifted = [F.slice(toks, j + 1, m) for j in range(n)]
    zipped = F.arrays_zip(*shifted)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            zipped,
            lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
    fan_min_bytes: int | None = EXPR_FANOUT_MIN_BYTES,
) -> DataFrame:
    """Word n-gram shingles per doc, via sequence/transform (no UDF).

    ``distinct=False`` skips the dedup shuffle — correct whenever the
    consumer's aggregate is duplicate-insensitive (``min`` in MinHash,
    ``collect_set`` in the Jaccard posting build); set-semantics consumers
    (pair intersection joins) need the default.

    ``fan_min_bytes``: size threshold for the pre-explode spread (see
    ``fan_out``).  Consumers whose first aggregation is a cheap codegen
    hash-agg (minhash minima, counts) keep the default — below it the
    single-task explode is cheaper than the exchange; consumers feeding
    an OBJECT aggregate (the Jaccard ``collect_set`` posting build) pass
    0 to always spread, because a single-task object-agg partial is the
    measured bottleneck even at MBs of input.
    """
    # fan_out BEFORE the explode: the expansion multiplies rows after the
    # scan, so a compacted small input (one scan task) would otherwise run
    # the whole shingle build on one core (size-adaptive: skipped below
    # fan_min_bytes where the exchange costs more than it saves)
    base = fan_out(
        df.select(F.col(id_col), F.col(text_col)),
        min_bytes=fan_min_bytes,
    )
    out = base.select(
        F.col(id_col), tokens_expr(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"),
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_docs_per_shingle: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard-similar pairs over word n-gram shingles.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    ``max_docs_per_shingle`` (default 1000) drops shingles shared by more
    than that many docs before the self-join: a shingle in d docs produces
    d^2/2 join rows, so one hot stopword-run shingle is the classic
    scale-killer.  Docs whose overlap is *only* hot shingles can be missed —
    exact Jaccard above the cap must go through the MinHash-LSH path
    (``minhash_lsh_candidates``), which has no such blowup.  Pass ``None``
    to disable (small-scale oracle verification only).
    """
    # Plan shape: ONE groupBy(shingle digest) replaces the classic shingle
    # self-join — the posting list (sorted id array) per shingle is built
    # once, the hot-shingle cap is a cheap size filter on it, and candidate
    # pairs are generated JVM-side inside the array (transform+slice), so
    # the shingle table is never shuffled twice nor joined against itself.
    # Round-6 optimizations (OPTIMIZATION_r06.md):
    #   - the groupBy keys on unhex(md5(shingle)) — 16 bytes — instead of
    #     the n-gram string (the line_dedup trick; grouping by the digest
    #     IS grouping by the shingle, and only the id arrays are consumed
    #     downstream, so output is unchanged while the one corpus-wide
    #     shuffle moves fixed-width keys);
    #   - fan_min_bytes=0: the posting build is an OBJECT aggregate
    #     (collect_set) whose single-task partial is the measured
    #     bottleneck when the adaptive fan_out skips (1.5 s -> 2.7 s), so
    #     this one consumer always spreads;
    #   - NO localCheckpoint: AQE's runtime stage reuse already serves
    #     the three posting consumers from one computed exchange
    #     (measured: checkpointing was ~0.3 s SLOWER — materialization
    #     cost without saved work).
    # distinct=False: collect_set dedups per shingle during the (map-side
    # partial) aggregation, so a separate dedup shuffle would be waste.
    sh = shingles(df, id_col, text_col, n, distinct=False, fan_min_bytes=0)
    posting = (
        sh.select(F.col(id_col), F.unhex(F.md5("shingle")).alias("_sd"))
        .groupBy("_sd")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
    )
    if max_docs_per_shingle is not None:
        posting = posting.where(F.size("ids") <= max_docs_per_shingle)
    posting = posting.select("ids")
    # per-doc shingle count AFTER the cap (denominator of Jaccard)
    sizes = (
        posting.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    # all (id_a < id_b) pairs within each posting list, via array exprs
    pair_expr = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), b -> struct(a AS id_a, b AS id_b))))"
    )
    inter = (
        posting.where(F.size("ids") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .where(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


_MERSENNE31 = (1 << 31) - 1  # prime modulus of the affine hash family


def _affine_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) of the classic universal family
    h_i(x) = (a*x + b) mod p, a in [1, p-1], b in [0, p-1] — splitmix of i."""
    def mix(v: int) -> int:
        v = (v * 0x9E3779B97F4A7C15 + 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
        v ^= v >> 31
        return v

    a = mix(2 * i) % (_MERSENNE31 - 1) + 1
    b = mix(2 * i + 1) % _MERSENNE31
    return a, b


def _md5_low60(col) -> "F.Column":
    """Low 60 bits of md5(col) as BIGINT — DuckDB-reproducible:
    ('0x' || substr(md5(x), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _minhash_hash(i: int, hash_fn: str):
    if hash_fn == "md5":
        # low 60 bits of md5("{i}:{shingle}") — DuckDB-reproducible
        return F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(i)), F.col("shingle"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
    if hash_fn == "affine":
        # ONE md5 per shingle (materialized as h0 by the caller), then a
        # per-i affine transform (a_i*h0 + b_i) mod (2^31-1): the textbook
        # universal minhash family, exact 63-bit-safe integer math both
        # engines (products < 2^62 — DuckDB BIGINT never overflows).
        # ~num_hashes x fewer md5 evaluations than the "md5" variant at the
        # same hard-oracle strength.
        a, b = _affine_params(i)
        return (F.lit(a) * F.col("h0") + F.lit(b)) % F.lit(_MERSENNE31)
    return F.xxhash64(F.lit(i), F.col("shingle"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc MinHash signature: sig_i = min over shingles of
    hash_i(shingle).  One explode + ONE groupBy computes all
    ``num_hashes`` minima (single shuffle; map-side partial min —
    duplicate shingles can't change a min, so no dedup pass).

    ``hash_fn``: ``"xxhash64"`` (default, fastest — the 100 TB path),
    ``"md5"`` (DuckDB reproduces it bit-for-bit, enabling a hard oracle on
    the whole minhash+banding pipeline), or ``"affine"`` (same hard-oracle
    strength at ~num_hashes x fewer md5 calls: one md5 per shingle feeds
    num_hashes affine transforms mod 2^31-1)."""
    # md5-family variants always spread (fan_min_bytes=0): their per-row
    # cost is an md5 per shingle (x num_hashes for "md5"), which measures
    # faster fanned even at MBs of input; the cheap xxhash64 path keeps
    # the adaptive skip (round 6)
    fan_min = 0 if hash_fn in ("md5", "affine") else EXPR_FANOUT_MIN_BYTES
    sh = shingles(df, id_col, text_col, n, distinct=False, fan_min_bytes=fan_min)
    if hash_fn == "affine":
        # materialize h0 BEFORE the aggregate: the 32 min() inputs then
        # share one md5 evaluation instead of recomputing it per aggregate
        sh = sh.withColumn("h0", _md5_low60(F.col("shingle")) % F.lit(_MERSENNE31))
    aggs = [
        F.min(_minhash_hash(i, hash_fn)).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, band_id, band_hash) LSH band rows — the SIGNATURE-STORE row
    format: persist these per corpus and any future delta can dedup
    against the corpus by equi-joining band keys, never recomputing old
    documents (see ``incremental_minhash_dedup``)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, hash_fn)

    def band_hash(b: int):
        cols = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hash_fn in ("md5", "affine"):
            return F.md5(F.concat_ws(",", *[c.cast("string") for c in cols]))
        return F.xxhash64(*cols)

    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            band_hash(b).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")


def incremental_minhash_dedup(
    new_docs: DataFrame,
    store_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a crawl DELTA against an accumulated signature store.

    The batch pair generator recomputes every document's signature; at
    10^12 documents a daily delta must not re-shingle the corpus.  The
    store holds one ``minhash_bands`` row set per kept document
    (bands x 1 rows/doc, ~40 bytes each); a delta then costs: shingle
    the DELTA only, one band equi-join against the store, one band
    self-join within the (small) delta.

    Pinned verdict rule (deterministic, order-free):
      - ``dup_of_store``: the MIN store id sharing any band with the new
        doc (NULL if none) — the representative the content already has;
      - ``dup_in_delta``: the MIN smaller delta id sharing any band
        (NULL if none).  Conservative corner, documented: a delta doc
        whose smaller twin is itself a store-dup still drops — its
        content is represented in the store via the twin's match;
      - ``keep`` = both NULL.

    Returns (verdicts, bands_to_append): append ``bands_to_append``
    (kept docs' band rows only) to the store so the next delta sees
    exactly one representative per near-dup class.
    """
    delta_bands = minhash_bands(
        new_docs, id_col, text_col, n, num_hashes, bands, hash_fn
    ).localCheckpoint(eager=False)  # shingling runs once, not per consumer
    store = store_bands.select(
        F.col(id_col).alias("_sid"), "band_id", "band_hash"
    )
    vs_store = (
        delta_bands.join(store, ["band_id", "band_hash"])
        .groupBy(id_col)
        .agg(F.min("_sid").alias("dup_of_store"))
    )
    a = delta_bands.alias("a")
    b = delta_bands.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias(id_col))
        .agg(F.min(F.col(f"b.{id_col}")).alias("dup_in_delta"))
    )
    verdicts = (
        new_docs.select(id_col)
        .join(vs_store, id_col, "left")
        .join(within, id_col, "left")
        .select(
            id_col,
            "dup_of_store",
            "dup_in_delta",
            (F.col("dup_of_store").isNull() & F.col("dup_in_delta").isNull()).alias(
                "keep"
            ),
        )
    )
    bands_to_append = delta_bands.join(
        verdicts.where("keep").select(id_col), id_col, "left_semi"
    )
    return verdicts, bands_to_append


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate pairs.

    shingle -> minhash -> band -> bucket posting-list; returns distinct
    (id_a, id_b) with id_a < id_b.  Docs meet only inside an LSH bucket
    (band_id, band_hash) — this is the 100 TB-scale near-dup path (verify
    candidates with ``ngram_jaccard_pairs`` or signature agreement
    afterwards).  ``hash_fn`` as in ``minhash_signatures``; with md5 the
    band hash is md5 of the comma-joined signature decimals (also
    DuckDB-reproducible)."""
    banded = minhash_bands(df, id_col, text_col, n, num_hashes, bands, hash_fn)
    # Posting-list form (like ``simhash_neardup_pairs``): group each LSH
    # bucket ONCE and expand pairs JVM-side inside the sorted id array.  The
    # previous a-join-b self-join on (band_id, band_hash) recomputed the
    # entire shingle->minhash->band lineage for each side and shuffled the
    # banded table twice (verified ReusedExchange: 0 in the executed plan) —
    # a 2x multiplier on the dominant dedup stage at 100 TB.  Here the
    # signature aggregation runs once, one shuffle, and a bucket of d docs
    # expands its d*(d-1)/2 pairs inside the row.
    posting = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), b -> struct(a AS id_a, b AS id_b))))"
    )
    return (
        posting.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def _simhash_bits(hash_fn: str) -> int:
    # xxhash64: bit 63 left clear keeps the packed value non-negative.
    # md5: low 60 bits of the hex digest (15 hex chars -> fits BIGINT).
    return 60 if hash_fn == "md5" else 63


def minhash_lsh_verified(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    max_docs_per_shingle: int | None = 1000,
) -> DataFrame:
    """The production near-dup pipeline: LSH candidates -> exact verify.

    Exact Jaccard is computed ONLY for LSH-candidate pairs (equi-joins of
    the candidate list against per-doc shingle sets), so the cost is
    |candidates| x shingles/doc — never the all-pairs shingle self-join.
    Returns (id_a, id_b, jaccard) like ``ngram_jaccard_pairs``; on data
    where LSH recall at ``threshold`` is 1 (high-similarity dup clusters,
    the common webtext case) the output is identical to the exact method,
    which is the cross-engine invariant the driver oracle checks.
    """
    cands = minhash_lsh_candidates(df, id_col, text_col, n, num_hashes, bands)
    sh = shingles(df, id_col, text_col, n)
    if max_docs_per_shingle is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > max_docs_per_shingle)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cands.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    s_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(s_a, "id_a")
        .join(s_b, "id_b")
        .where(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per doc, entirely with built-in aggregations.

    Token hash bits vote +1/-1 per position; the sign vector packs into one
    BIGINT.  The conditional-sum aggregates run in a single groupBy pass
    (one shuffle, map-side combine) — no Python in the loop.

    ``hash_fn``: ``"xxhash64"`` (default — fastest JVM hash, the 100 TB
    path) or ``"md5"`` (low 60 bits of the hex digest — slower, but DuckDB
    reproduces it bit-for-bit, so the driver oracle can hard-verify the
    whole vote/pack pipeline instead of a rows-only check).
    """
    n_bits = _simhash_bits(hash_fn)
    if hash_fn == "md5":
        h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    else:
        h = F.xxhash64("tok")
    toks = (
        fan_out(
            df.select(F.col(id_col), F.col(text_col)),
            min_bytes=EXPR_FANOUT_MIN_BYTES,
        )
        .select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok"))
        .select(F.col(id_col), h.alias("h"))
    )
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(n_bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    # BALANCED bitwise-OR fold (depth ~log2(n_bits), was a 63-deep
    # left-nested chain): Catalyst re-walks nested expression trees per
    # optimizer rule, so tree DEPTH is driver-side planning cost on every
    # invocation — measured ~0.25 s/query locally, same bits out
    bits = [
        F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(n_bits)
    ]
    while len(bits) > 1:
        bits = [
            bits[k].bitwiseOR(bits[k + 1]) if k + 1 < len(bits) else bits[k]
            for k in range(0, len(bits), 2)
        ]
    return agg.select(F.col(id_col), bits[0].alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    hash_fn: str = "xxhash64",
    max_docs_per_block: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding: with ``bands`` > max_hamming blocks, any pair within
    distance max_hamming agrees exactly on at least one block; candidates
    within a block verify exactly via ``bit_count(a ^ b)``.  All built-ins,
    no UDF; this is the 100 TB-scale alternative to an O(n²) Hamming scan.
    ``hash_fn`` as in ``simhash64`` (md5 variant is DuckDB-verifiable).

    Plan shape: posting-list, not a banded SELF-join — the signature table
    (the expensive 64-bit-vote aggregation) is computed ONCE, grouped by
    (block_id, block), and pairs are generated JVM-side inside the sorted
    (id, simhash) array, exactly like ``ngram_jaccard_pairs``.  A self-join
    would recompute the whole simhash lineage for each side AND shuffle the
    banded table twice.  ``max_docs_per_block`` optionally drops degenerate
    blocks (a block holding d docs makes d²/2 candidates — e.g. the
    all-identical-template pathology); None (default) keeps exact semantics
    so the DuckDB oracle reproduces the pair set bit-for-bit.
    """
    assert bands > max_hamming
    sig = simhash64(df, id_col, text_col, hash_fn)
    # blocks must tile the populated bit range: 60 bits for md5, 64 (bit 63
    # always clear) for xxhash64
    width = (60 if hash_fn == "md5" else 64) // bands
    mask = (1 << width) - 1
    blocks = [
        F.struct(
            F.lit(b).alias("block_id"),
            F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).alias("block"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*blocks)).alias("bk")
    ).select(id_col, "simhash", "bk.block_id", "bk.block")
    posting = banded.groupBy("block_id", "block").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh"))
            )
        ).alias("xs")
    )
    posting = posting.where(F.size("xs") >= 2)
    if max_docs_per_block is not None:
        posting = posting.where(F.size("xs") <= max_docs_per_block)
    pair_expr = F.expr(
        "flatten(transform(xs, (a, i) -> "
        "transform(slice(xs, i + 2, size(xs)), "
        "b -> struct(a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b))))"
    )
    return (
        posting.select(F.explode(pair_expr).alias("p"))
        .select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            F.bit_count(F.col("p.sh_a").bitwiseXOR(F.col("p.sh_b"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair list -> (id, cluster_id).

    Min-label propagation first: every node starts labeled with its own
    id; each round takes the min over its neighbors' labels; fixpoint when
    NO label changes in a round (the changed-row count is computed on the
    same checkpointed round result the next join reuses, and is
    type-agnostic — it works for string / url ids where a numeric
    label-sum witness would silently NULL out under the implicit cast and
    stop after round 1).  Rounds = graph diameter — near-dup clusters are
    shallow (cliques + short chains), so this converges in a handful of
    rounds.

    If labels still changed in the last of ``max_iter`` rounds, the labels
    are not a fixpoint (a 30-node path needs 29 rounds), so the same pairs
    go to alternating large-star/small-star (``_cc_large_small_star``,
    Kiveris et al., "Connected Components in MapReduce and Beyond"),
    whose rounds grow with log(diameter), not diameter: a 10k-node chain
    converges in ~tens of rounds.  It raises rather than return
    unconverged labels.  Both give cluster_id = the component's min id.

    Each round is a bounded number of equi-joins + groupBy(min);
    ``localCheckpoint`` truncates the growing lineage so round N doesn't
    replay rounds 1..N-1.  Driver-side state is one scalar per round.
    """
    # checkpoint the raw pair list first: the symmetrizing union otherwise
    # evaluates the (possibly expensive — e.g. the full Jaccard pipeline)
    # pair lineage once per union branch (round 6)
    p = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).localCheckpoint(
        eager=False
    )
    edges = (
        p.union(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    # Round-6 round shape (guide §2.4): message-passing with a self-union
    # instead of join + groupBy + second join — one equi-join (neighbor
    # labels), one groupBy.  The old label rides the same aggregate as a
    # conditional max over the (unique) self row, so the convergence
    # witness costs no extra join; it stays a COUNT of changed labels
    # (type-agnostic — string ids included, the round-4 invariant).
    #
    # Rounds run in BATCHES of lazily-chained propagations with ONE
    # convergence count per batch: the per-round driver job round-trip
    # (~0.3 s each locally) was most of the loop's wall on shallow
    # graphs, and propagating past the fixpoint is idempotent, so
    # checking only the batch's LAST round is sound — zero changes in
    # round k means round k-1 already was the fixpoint.  Labels at any
    # given total round count are identical to the one-check-per-round
    # form; per-round localCheckpoint still truncates lineage inside a
    # batch.
    batch = 4
    done = 0
    changed = None
    while done < max_iter:
        steps = min(batch, max_iter - done)
        upd = None
        for _ in range(steps):
            msgs = edges.join(labels, edges["src"] == labels["id"]).select(
                F.col("dst").alias("id"), "lbl", F.lit(False).alias("_self")
            )
            # per-round checkpoint stays: round s+1 references this frame
            # TWICE (neighbor join + self union), so an un-checkpointed
            # round would double its subtree per level — 2^batch plan
            # copies hanging on AQE runtime reuse (measured: no win)
            upd = (
                msgs.union(
                    labels.select("id", "lbl", F.lit(True).alias("_self"))
                )
                .groupBy("id")
                .agg(
                    F.min("lbl").alias("lbl"),
                    F.max(F.when(F.col("_self"), F.col("lbl"))).alias("_old"),
                )
                .localCheckpoint(eager=False)
            )
            labels = upd.select("id", "lbl")
        done += steps
        changed = upd.where(F.col("lbl") != F.col("_old")).count()
        if changed == 0:
            break
    if changed != 0:
        labels, _ = _cc_large_small_star(pairs, id_a, id_b)
        return labels
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def _cc_large_small_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 60,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star CC (Kiveris et al. 2014).

    Per round:
      large-star — every node u connects its STRICTLY LARGER neighbors to
        m = min(N(u) ∪ {u}): emit (v, m) for v ∈ N(u), v > u;
      small-star — on the canonical larger→smaller edge set, every node u
        connects itself and its neighbors to m = min(N(u)): emit (u, m)
        and (v, m) for v ∈ N(u) \\ {m}.

    Both steps preserve connectivity and strictly shrink path lengths
    (roughly halving per round), converging to star graphs rooted at each
    component's minimum node in O(log n) practical rounds — the property
    test plants a 10k-node path and asserts rounds ≪ n.  Convergence is
    witnessed by edge-set equality (new ⊆ old via subtract-count, plus
    equal distinct counts), which is type-agnostic like the label-count
    witness in ``connected_components``, which hands its unconverged
    inputs here.

    Returns (labels, rounds_used); labels is (id, cluster_id) with
    cluster_id = the component's min node id — identical contract to
    min-label propagation (asserted equal on shared fixtures in tests).
    """
    raw = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .where(F.col(id_a) != F.col(id_b))
        .distinct()
    )
    nodes = (
        raw.select(F.col("src").alias("id"))
        .union(raw.select(F.col("dst").alias("id")))
        .union(
            pairs.where(F.col(id_a) == F.col(id_b)).select(F.col(id_a).alias("id"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # canonical form: one row per undirected edge, src > dst
    e = (
        raw.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()
    rounds = 0
    converged = n_edges == 0
    for rounds in range(1, max_iter + 1):
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        mins = mins.select("src", F.least("src", "mn").alias("m"))
        # large-star: (v, m) for v ∈ N(u), v > u  — canonical since m ≤ u < v
        ls = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star on canonical hi→lo edges: every neighbor is < u
        mins2 = ls.groupBy("src").agg(F.min("dst").alias("m"))
        part_self = mins2.select("src", F.col("m").alias("dst"))
        part_nbr = (
            ls.join(mins2, "src")
            .where(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        e_new = part_self.union(part_nbr).distinct().localCheckpoint(eager=False)
        n_new = e_new.count()
        if n_new == n_edges and e_new.subtract(e).count() == 0:
            e = e_new
            converged = True
            break
        e, n_edges = e_new, n_new
    if not converged:
        # a mid-convergence edge set is NOT a star: one node may still
        # hold edges to several candidate roots, and deriving labels from
        # it would emit duplicate contradictory (id, cluster_id) rows
        # with no error.  Rounds grow ~log(diameter), so hitting the cap
        # means the graph's chains are far longer than the caller sized
        # for — fail loudly instead of corrupting the clustering.
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_iter} rounds; "
            "raise max_iter (rounds grow with log of the longest chain)"
        )
    star = e.select(F.col("src").alias("id"), F.col("dst").alias("root"))
    labels = nodes.join(star, "id", "left").select(
        "id", F.coalesce("root", "id").alias("cluster_id")
    )
    return labels, rounds


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster near-dup pairs and pick one keeper per cluster.

    Returns (doc_id, cluster_id, cluster_size, is_keeper): cluster_id is
    the component's min doc id (deterministic), the keeper is that min-id
    doc — the standard keep-one-per-cluster step after any of the pair
    generators (exact fp, Jaccard, MinHash-LSH, SimHash, embedding LSH).
    """
    comp = connected_components(pairs, id_a, id_b, max_iter)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "cluster_id").select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        (F.col("id") == F.col("cluster_id")).alias("is_keeper"),
    )


def ngram_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag docs sharing any word n-gram with an
    evaluation set (the 13-gram rule from public LLM data curation).

    Returns one row per input doc: (id_col, n_hit_ngrams, contaminated).
    The eval-set shingle table is tiny relative to the corpus (benchmarks
    are KBs-to-MBs against TBs of training text), so it broadcasts — the
    corpus-side scan stays a narrow explode + broadcast-hash semi-join with
    NO full shuffle; the per-doc hit count is the only aggregation.
    """
    eval_sh = (
        shingles(
            eval_docs.select(F.lit(0).alias("_eid"), F.col(text_col)),
            id_col="_eid",
            text_col=text_col,
            n=n,
            distinct=False,
        )
        .select("shingle")
        .distinct()
    )
    # distinct=False is load-bearing: shingles() would otherwise append a
    # .distinct() — a FULL corpus shuffle of 13-gram strings.  The
    # broadcast join filters to matched rows first (a vanishing fraction),
    # so counting DISTINCT matched shingles per doc afterwards shuffles
    # only the hits.
    doc_sh = shingles(docs, id_col, text_col, n, distinct=False)
    hits = (
        doc_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_hit_ngrams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_hit_ngrams", F.lit(0)).alias("n_hit_ngrams"),
            (F.coalesce("n_hit_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def latest_snapshot(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "warc_ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Keep only the newest row per key — crawl re-fetch dedup.

    A re-crawled corpus carries several snapshots of the same url; every
    downstream count/dedup/extraction pass must see exactly one.  This is
    a row_number window over the key ordered by ``ts_col`` DESC (plus an
    optional deterministic ``tiebreak_col`` DESC for equal timestamps —
    REQUIRED for reproducible output whenever ts collisions are possible):
    ONE shuffle on the key columns, streaming rank inside each partition,
    no join back.  At 100 TB the key shuffle is unavoidable for this
    semantics; pre-bucketing the table by url makes it a local sort.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def duplicated_spans(
    df: DataFrame,
    window: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-span signal (exact-substring dedup, the
    "Deduplicating Training Data Makes Language Models Better" idea,
    expressed as a per-doc coverage metric instead of corpus surgery).

    A token window of length ``window`` is *duplicated* when its exact
    content appears in >= 2 distinct documents.  Returns per doc:
    (id_col, n_dup_windows, dup_frac) where dup_frac is the fraction of
    the doc's TOKENS covered by the union of its duplicated windows —
    the curation gate cuts on it like any Gopher rule, but the signal is
    corpus-wide, not within-doc.

    Scale shape: the window stream ``(id, pos, wh)`` is built ONCE —
    windows are hashed (md5: 128 bits, no birthday loss at corpus scale,
    DuckDB-reproducible), so the one corpus-wide exchange moves 16-byte
    keys, never window strings, token arrays or text.  A window is
    duplicated when ``min(id) != max(id)`` over its hash partition, which
    equals ``COUNT(DISTINCT id) >= 2`` for every non-float id type (both
    ignore NULL ids; all-NULL gives NULL, which the filter drops), so no
    DISTINCT aggregate and no join back to a second tokenize.  A hot
    window (one planted in every doc) is ONE window partition: its rows
    sit in one task's buffer, which spills to disk past Spark's window
    buffer threshold instead of growing the heap.  The duplicated
    windows group per doc into sorted starts, and the interval-union
    coverage is pure array math (covered = window + sum(min(window, gap))
    over consecutive starts — no explode of covered positions).  The
    per-row ``n_toks`` side is a narrow scan left-joined on id: one
    output row per input row; NULL ids and duplicate-free docs get
    ``(id, 0, 0.0)``; rows sharing an id share its merged positions.
    """
    from pyspark.sql import Window

    by_wh = Window.partitionBy("wh")
    wins = fan_out(
        df.select(F.col(id_col), F.col(text_col)),
        min_bytes=EXPR_FANOUT_MIN_BYTES,
    ).select(F.col(id_col), tokens_expr(text_col).alias("_toks")).select(
        F.col(id_col),
        F.posexplode(shingles_from_tokens(F.col("_toks"), window)).alias(
            "pos", "win"
        ),
    ).select(id_col, "pos", F.md5("win").alias("wh"))
    per_doc = (
        wins.select(
            id_col,
            "pos",
            (F.min(id_col).over(by_wh) != F.max(id_col).over(by_wh)).alias("dup"),
        )
        .where("dup")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("pos")).alias("ps"))
        .select(id_col, "ps", F.size("ps").cast("bigint").alias("n_dup_windows"))
    )
    gaps = F.zip_with(
        F.slice("ps", 1, F.size("ps") - 1),
        F.slice(F.col("ps"), 2, F.size("ps") - 1),
        lambda a, b: F.least(b - a, F.lit(window)),
    )
    covered = F.aggregate(gaps, F.lit(0), lambda acc, x: acc + x) + F.lit(window)
    toks = df.select(
        F.col(id_col), F.size(tokens_expr(text_col)).alias("n_toks")
    )
    return (
        toks.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.when(
                    F.col("n_dup_windows").isNotNull() & (F.col("n_toks") > 0),
                    covered / F.col("n_toks"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    window: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus surgery for exact duplicated substrings (the actual removal
    step of "Deduplicating Training Data Makes Language Models Better" —
    ``duplicated_spans`` above is the read-only coverage signal, this
    emits the cleaned text).

    Pinned deterministic rule — keep the FIRST occurrence corpus-wide:
    a token window of length ``window`` is duplicated when its exact
    content appears in >= 2 distinct documents; among all its occurrences
    the one with the smallest ``(doc_id, pos)`` is the keeper, every
    other occurrence is a *duplicate occurrence*.  A token is removed
    iff it is covered by the interval union of its document's
    duplicate-occurrence windows ``[pos, pos+window-1]``.  First
    occurrences thus survive verbatim; repeats lose exactly the
    duplicated span, and the rule is total-order deterministic (no
    tie depends on execution order).

    Returns (id_col, clean_text, n_kept, n_removed).  ``clean_text`` is
    the space-join of surviving tokens of the NORMALIZED stream
    (lowercased, whitespace-split — same tokenization every dedup
    operator here uses), preserving original token order.

    Scale shape: as ``duplicated_spans`` — one window stream
    ``(id, pos, wh)`` of 16-byte md5 keys, and one window over the hash
    partition carries both the duplicated mark (``min(id) != max(id)``)
    and the first occurrence (``min(struct(id, pos))``): no DISTINCT
    aggregate, no join back to a second tokenize.  A hot window is one
    window partition, buffered in one task and spilled past Spark's
    window buffer threshold.  The per-doc removal is pure array math (an
    indexed ``filter`` over the token array against the sorted duplicate
    starts; O(n_tokens x n_dup_spans) per doc, no explode of covered
    positions) after a left join on id that keeps one row per input row.
    """
    from pyspark.sql import Window

    by_wh = Window.partitionBy("wh")
    wins = fan_out(
        df.select(F.col(id_col), F.col(text_col)),
        min_bytes=EXPR_FANOUT_MIN_BYTES,
    ).select(F.col(id_col), tokens_expr(text_col).alias("_toks")).select(
        F.col(id_col),
        F.posexplode(shingles_from_tokens(F.col("_toks"), window)).alias(
            "pos", "win"
        ),
    ).select(id_col, "pos", F.md5("win").alias("wh"))
    id_pos = F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
    per_doc = (
        wins.select(
            id_col,
            "pos",
            (F.min(id_col).over(by_wh) != F.max(id_col).over(by_wh)).alias("dup"),
            F.min(id_pos).over(by_wh).alias("first"),
        )
        .where(
            F.col("dup")
            & ~(
                (F.col(id_col) == F.col("first.d"))
                & (F.col("pos") == F.col("first.p"))
            )
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("pos")).alias("ps"))
    )
    toks = df.select(F.col(id_col), tokens_expr(text_col).alias("toks"))
    joined = toks.join(per_doc, id_col, "left").select(
        id_col,
        "toks",
        F.coalesce("ps", F.array().cast("array<int>")).alias("ps"),
    )
    covered = lambda i: F.exists(  # noqa: E731 — tiny local predicate
        F.col("ps"), lambda p: (i >= p) & (i <= p + F.lit(window - 1))
    )
    kept = F.filter(F.col("toks"), lambda x, i: ~covered(i))
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).alias("n_kept"),
        (F.size("toks") - F.size(kept)).alias("n_removed"),
    )
