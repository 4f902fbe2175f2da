"""DSIR — Data Selection with hashed n-gram Importance Resampling.

Xie et al. (NeurIPS 2023) select pretraining documents whose hashed
n-gram profile looks like a trusted TARGET corpus rather than the raw
crawl: fit bag-of-buckets models p_target and p_raw over hashed
uni+bigram features, weight every raw document by

    log w(d) = sum over feature occurrences f in d of
               [ log p_target(bucket(f)) - log p_raw(bucket(f)) ]

and resample by the weights (Gumbel top-k).  High-weight docs move the
corpus toward the target distribution; the weights need only two
B-bucket count vectors, not a trained model.

Spark shape: feature extraction is array algebra (tokens + arrays_zip
tail for bigrams, the ``lm.doc_bigrams`` idiom) followed by ONE explode;
both Laplace models come from ONE groupBy over hashed buckets with a
conditional target sum (map-side combine; the result is <= B rows) and
the resulting log-ratio table BROADCASTS to the probe join — scoring is
one narrow pass over the corpus plus one groupBy on the doc key.  The
occurrence stream is checkpointed at bench scale and recomputed at
corpus scale (size-adaptive, see ``importance_weights``).  The only
driver state is two scalars (total feature counts), the same bounded-
collect policy as ``seq_pack``/``lm.train_bigram_lm``.

Hash variants, repo convention: ``xxhash64`` production path;
``affine`` (md5 low-60 bits) so the DuckDB oracle replays bucketing
bit-exactly.  Deterministic Gumbel keys (md5-derived uniforms) make the
resampling itself replayable — no RNG, stable under retries.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import _md5_low60
from .lm import _clean_tokens

# importance_weights checkpoints its occurrence stream below this estimated
# input size and leaves it lazy above it (see that docstring).
DSIR_MAT_MAX_BYTES = 256 * 1024 * 1024


def _features_of_tokens(ws: Column) -> Column:
    """uni+bigram feature array from a token-array column — the ONE
    definition both the public feature table and the fused scoring path
    build from (shared so tokenization/feature changes cannot drift
    between the oracle-validated API and the production path)."""
    tail = F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0)))
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        tail,
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.concat(ws, bigrams)


def _bucket_of_feature(feature: Column, n_buckets: int, hash_fn: str) -> Column:
    """Hashed bucket of one feature string (shared, see above)."""
    if hash_fn == "affine":
        return _md5_low60(feature) % F.lit(n_buckets)
    return F.pmod(F.xxhash64(feature), F.lit(n_buckets))


def hashed_ngram_features(
    docs: DataFrame,
    n_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, bucket) — one row per uni/bigram OCCURRENCE, bucketed.

    Unigrams and space-joined bigrams hash into the same B buckets
    (the paper's hashed feature space absorbs both orders).  Array
    algebra before ONE explode; docs shorter than the order contribute
    only what they have.
    """
    out = docs.select(
        F.col(id_col), _clean_tokens(text_col).alias("_ws")
    ).select(
        F.col(id_col), F.explode(_features_of_tokens(F.col("_ws"))).alias("feature")
    )
    return out.select(
        id_col, _bucket_of_feature(F.col("feature"), n_buckets, hash_fn).alias("bucket")
    )


def bucket_log_ratio(
    target_feats: DataFrame,
    raw_feats: DataFrame,
    n_buckets: int,
    alpha: float = 1.0,
) -> tuple[DataFrame, float]:
    """Merge the two bucket-count models into ONE broadcastable
    log-ratio table: (bucket, log_ratio) over buckets observed in
    EITHER corpus, plus the scalar default ratio for never-seen buckets.

    Laplace smoothing (``alpha`` pseudo-count per bucket) keeps both
    log-probs finite everywhere:  p(b) = (c_b + alpha) / (N + alpha*B).
    Totals are two bounded driver scalars; the division into log space
    happens per bucket row, JVM-side.
    """
    t = target_feats.groupBy("bucket").agg(F.count("*").alias("ct"))
    r = raw_feats.groupBy("bucket").agg(F.count("*").alias("cr"))
    n_t, n_r = (
        x[0] or 0
        for x in (
            t.agg(F.sum("ct")).first(),
            r.agg(F.sum("cr")).first(),
        )
    )
    denom_t, denom_r = n_t + alpha * n_buckets, n_r + alpha * n_buckets
    merged = t.join(r, "bucket", "full_outer").select(
        "bucket",
        (
            F.log((F.coalesce(F.col("ct"), F.lit(0)) + alpha) / denom_t)
            - F.log((F.coalesce(F.col("cr"), F.lit(0)) + alpha) / denom_r)
        ).alias("log_ratio"),
    )
    default = math.log(alpha / denom_t) - math.log(alpha / denom_r)
    return merged, default


def importance_weights(
    docs: DataFrame,
    target_filter: Column,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, n_feats, logw) for every document: the summed hashed-n-gram
    log importance ratio toward the in-corpus target subset.

    ``target_filter`` marks the trusted rows (an external target corpus
    works the same — pass its features to :func:`bucket_log_ratio`).
    Scoring joins the broadcast ratio table per feature occurrence and
    folds with one groupBy; unseen buckets fall back to the scalar
    default via coalesce, so the left join never drops a feature.

    Round-6 shape (OPTIMIZATION_r06.md, guide §1.2/§2.3): ONE
    tokenize+hash pass at bench scale.  The previous composition via two
    ``hashed_ngram_features`` tables and ``bucket_log_ratio`` evaluated
    the feature stream FIVE times per run — the two total-count scalars
    each forced a full feature job, and the final query recomputed the
    target model, the raw model AND the scoring stream.  Now the
    per-occurrence ``(id, is_target, bucket)`` stream is built once; the
    totals ride one aggregate over it; and the two Laplace models
    collapse into ONE ``groupBy(bucket)`` with a conditional target sum
    (the target rows are a subset of the raw rows, so the raw bucket set
    IS the full-outer-merged bucket set of the two-table form, and a
    bucket never seen in the target gets ct=0 — exactly the old
    ``coalesce(ct, 0)``).  Scoring still folds the PER-OCCURRENCE rows
    (not per-bucket counts), so the float summation stream the 4dp
    cross-engine contract depends on is unchanged.

    Materialization is SIZE-adaptive: below ``DSIR_MAT_MAX_BYTES``
    of estimated input (256 MB) the occurrence stream is
    ``localCheckpoint``-ed so the totals job, the model build and the
    scoring probe share one computed stream (rebuilt every invocation —
    nothing persists across runs).  Above it — the 100 TB path — the
    stream stays lazy and is recomputed by its two remaining consumers:
    at that scale re-running a narrow tokenize+hash is storage-free and
    fault-tolerant, while pinning an O(corpus tokens) checkpoint in
    executor block storage is neither.  Driver state stays two scalars
    either way.
    """
    from ..plans.partitioning import EXPR_FANOUT_MIN_BYTES, fan_out

    # size-adaptive spread for ALL hash families here: unlike the minhash
    # signature build, the (bench-scale) occurrence stream lands in an
    # eager localCheckpoint, and two full-bench passes measured the forced
    # spread SLOWER in that shape (2.11 s vs 1.25-1.47 s) — the exchange
    # plus 32-way checkpoint block write costs more than the single-task
    # hash at this size
    narrow = docs.select(F.col(id_col), target_filter.alias("_t"), F.col(text_col))
    est = int(str(narrow._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    base = fan_out(narrow, min_bytes=EXPR_FANOUT_MIN_BYTES).select(
        # materialize the token array once: the feature expression
        # references it five times (shingles_from_tokens rationale)
        F.col(id_col), F.col("_t"), _clean_tokens(text_col).alias("_ws")
    )
    occ = base.select(
        F.col(id_col),
        F.col("_t"),
        F.explode(_features_of_tokens(F.col("_ws"))).alias("feature"),
    ).select(
        id_col,
        "_t",
        _bucket_of_feature(F.col("feature"), n_buckets, hash_fn).alias("bucket"),
    )
    if est < DSIR_MAT_MAX_BYTES:
        occ = occ.localCheckpoint(eager=True)
    row = occ.agg(
        F.count(F.lit(1)).alias("nr"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("nt"),
    ).first()
    n_r, n_t = int(row["nr"] or 0), int(row["nt"] or 0)
    denom_t, denom_r = n_t + alpha * n_buckets, n_r + alpha * n_buckets
    ratio = (
        occ.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct"),
        )
        .select(
            "bucket",
            (
                F.log((F.col("ct") + alpha) / denom_t)
                - F.log((F.col("cr") + alpha) / denom_r)
            ).alias("log_ratio"),
        )
    )
    default = math.log(alpha / denom_t) - math.log(alpha / denom_r)
    scored = occ.join(F.broadcast(ratio), "bucket", "left")
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_feats"),
        F.sum(F.coalesce(F.col("log_ratio"), F.lit(default))).alias("logw"),
    )


def gumbel_key_expr(id_col: str | Column = "doc_id") -> Column:
    """Deterministic standard Gumbel draw per id: u from the md5 low-60
    uniform (never 0 or 1 — the +0.5 offset keeps both logs finite),
    g = -ln(-ln(u)).  Division by 2^60 is exact in binary, so the only
    float ops are the two logs — engine-replayable to the repo's 4dp
    rounding contract."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    u = (_md5_low60(c.cast("string")) + F.lit(0.5)) / F.lit(float(1 << 60))
    return -F.log(-F.log(u))


def dsir_resample(
    docs: DataFrame,
    target_filter: Column,
    k: int,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Gumbel top-k resample: keep the k docs with the largest
    logw + Gumbel(id) — equivalent to sampling without replacement
    proportionally to w (Vieira 2014), but deterministic here because
    the Gumbel draw is hash-derived.  TakeOrderedAndProject does the
    global top-k without a full sort."""
    w = importance_weights(
        docs, target_filter, n_buckets, alpha, id_col, text_col, hash_fn
    )
    key = (F.col("logw") + gumbel_key_expr(id_col)).alias("gumbel_key")
    return w.select(id_col, "n_feats", "logw", key).orderBy(
        F.col("gumbel_key").desc(), id_col
    ).limit(k)
