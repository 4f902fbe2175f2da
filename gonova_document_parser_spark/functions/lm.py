"""Interpolated bigram language-model perplexity (CCNet-style quality).

CCNet (Wenzek et al. 2020) ranks crawl documents by the perplexity of a
language model trained on a trusted reference corpus — low-perplexity
docs read like the reference, high-perplexity docs are noise.  The
original uses KenLM; no model binaries exist in this container, so the
same paradigm is expressed closed-form: a bigram LM with maximum-
likelihood bigram probabilities interpolated against Laplace-smoothed
unigrams,

    p(w2 | w1) = lam * c(w1 w2)/c(w1)  +  (1-lam) * (c(w2)+1)/(N+V)

(the unigram floor is never zero, so every transition has a finite log
probability), trained on a head subset and scored over the full corpus.
Every step is counts + arithmetic — the DuckDB oracle replays training
AND scoring exactly.

Scale shape: the model is built from the (small) reference subset —
two groupBy passes over its tokens; the resulting unigram/bigram tables
are the BROADCAST side of scoring (CCNet's models are a few GB; a
shuffle join on the token key is the fallback knob).  Scoring explodes
each scored doc into bigram rows once, joins the model, and aggregates
back with one groupBy on the doc key.  N and V are two driver scalars
(bounded collect, same policy as seq_pack's prefix offsets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .textstats import tokens_expr


def _clean_tokens(col: str | Column = "text") -> Column:
    """Whitespace tokens, lowercased, empties dropped (an empty doc
    tokenizes to [''] after split — filter keeps the algebra honest)."""
    return F.filter(tokens_expr(col), lambda w: w != "")


def doc_bigrams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Explode each doc into (id, w1, w2) bigram transition rows.

    Built as array algebra BEFORE the explode — arrays_zip of the
    token array against its own tail — so there is no per-token window
    or self-join; docs with <2 tokens contribute no rows.
    """
    ws = F.col("_ws")
    pairs = F.arrays_zip(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))).alias("w1"),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))).alias("w2"),
    )
    # materialize the token array once — the zip expression references it
    # five times, and without the projection each reference re-runs
    # split+filter on the text (shingles_from_tokens rationale, round 6)
    return (
        docs.select(F.col(id_col), _clean_tokens(text_col).alias("_ws"))
        .select(F.col(id_col), F.explode(pairs).alias("_bg"))
        .select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    )


def train_bigram_lm(
    train: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int, int]:
    """Count tables + scalars from the reference subset.

    Returns (unigrams(w, c), bigrams(w1, w2, c12), n_tokens, vocab_size).
    Two groupBys over the train tokens; the scalars are one bounded
    driver aggregate (two ints).
    """
    toks = train.select(
        F.explode(_clean_tokens(text_col)).alias("w")
    )
    # localCheckpoint the unigram table BEFORE the scalar aggregate: the
    # scalars job materializes it, so the two broadcast builds in
    # lm_score (w1 denominator + w2 floor) read the materialized counts
    # instead of each re-running the train-subset explode+groupBy
    # (round 6; recomputed per invocation, nothing persists across runs)
    unigrams = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    bigrams = doc_bigrams(train, id_col, text_col).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    row = unigrams.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    return unigrams, bigrams, int(row["n"] or 0), int(row["v"] or 0)


def lm_score(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    n_tokens: int,
    vocab_size: int,
    lam: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-doc average negative log-probability (lower = more fluent).

    Output: (id, n_bigrams, nll) for every doc with >= 1 transition;
    ``nll`` is rounded to 4dp — the cross-engine float contract (the sum
    of ~1e2-1e4 doubles differs across engines only in the last ulps).

    Three broadcast joins against the model (bigram on (w1,w2), unigram
    on w1 for the ML denominator, unigram on w2 for the smoothed floor),
    then ONE groupBy on the doc key.  The scored corpus never shuffles
    except by that key.

    ``broadcast_model=False`` is the at-scale fallback the module header
    promises (CCNet's models are a few GB — beyond the 8 GB broadcast
    ceiling and any sane driver heap): plain shuffle equi-joins on the
    token keys, same output (path agreement pinned in tests).  Keep the
    default for models up to a few hundred MB.
    """
    bg = doc_bigrams(docs, id_col, text_col)
    uni1 = unigrams.select(F.col("w").alias("_u1"), F.col("c").alias("c1"))
    uni2 = unigrams.select(F.col("w").alias("_u2"), F.col("c").alias("c2"))
    side = F.broadcast if broadcast_model else (lambda d: d)
    joined = (
        bg.join(side(bigrams), ["w1", "w2"], "left")
        .join(side(uni1), F.col("w1") == F.col("_u1"), "left")
        .join(side(uni2), F.col("w2") == F.col("_u2"), "left")
    )
    p_ml = F.when(
        F.col("c12").isNotNull(),
        F.col("c12").cast("double") / F.col("c1").cast("double"),
    ).otherwise(F.lit(0.0))
    p_uni = (F.coalesce(F.col("c2"), F.lit(0)).cast("double") + 1.0) / float(
        n_tokens + vocab_size
    )
    logp = F.log(F.lit(lam) * p_ml + F.lit(1.0 - lam) * p_uni)
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg(logp), 4).alias("nll"),
        )
    )


def lm_perplexity_scores(
    docs: DataFrame,
    train_filter: Column,
    lam: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """Train on ``docs.where(train_filter)``, score ALL docs.

    The CCNet head-trains-scores-everything composition in one call; the
    train subset plays the trusted reference corpus.  ``broadcast_model``
    passes through to :func:`lm_score` (False = shuffle-join fallback for
    models beyond the broadcast budget).
    """
    unigrams, bigrams, n, v = train_bigram_lm(
        docs.where(train_filter), id_col, text_col
    )
    return lm_score(
        docs, unigrams, bigrams, n, v, lam, id_col, text_col, broadcast_model
    )
