"""Text-analysis functions for training-data pipelines — all JVM-side.

Every function here returns pure Column expressions built from
``pyspark.sql.functions`` (whole-stage-codegen eligible, no Python in the hot
path): language-ID (stopword/CJK heuristic), quality scoring
(length/punct/stopword ratios), token counting (whitespace + word-regex),
and document fingerprinting.  The reference's nearest analog is its ad-hoc
string heuristics (``nanonets_processor.py:261-279`` signature keyword scan,
``page_classifier.py:94-106`` text-length rule).
"""

from __future__ import annotations

import pandas as pd  # real import: pandas_udf resolves the signature hints

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword sets — heuristic language ID, not a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "fr": ["le", "la", "et", "les", "des", "un", "une"],
    "es": ["el", "la", "y", "de", "los", "que", "un"],
    "de": ["der", "die", "und", "das", "ein", "nicht", "ist"],
}
_CJK_RE = "[一-鿿]"  # actual CJK range chars, not escape sequences


def tokens_expr(col: str | Column = "text") -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count_expr(col: str | Column = "text") -> Column:
    return F.size(tokens_expr(col))


def word_token_count_expr(col: str | Column = "text") -> Column:
    """BPE-ish token estimate: count of word/number/punct regex matches."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(r"([a-z0-9]+|[^\sa-z0-9])"), 1))


# GPT-2-style pre-tokenizer, RE2-safe subset: contraction suffixes, then
# space-prefixed letter runs, digit runs, punct runs, then bare whitespace.
# (The original's trailing-space lookahead is dropped — RE2 has no
# lookahead, and DuckDB must run the identical pattern.)
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count_expr(col: str | Column = "text") -> Column:
    """BPE-ish token count: non-overlapping matches of the GPT-2-style
    pre-tokenizer regex (contractions / letter runs / digit runs / punct
    runs, each optionally space-prefixed).  A deterministic, engine-exact
    estimate of subword-tokenizer input cost — the number every training-
    data budget is denominated in."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def stopword_ratio_expr(col: str | Column = "text", lang: str = "en") -> Column:
    toks = tokens_expr(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    matched = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, matched / F.size(toks)).otherwise(F.lit(0.0))


def quality_features(col: str | Column = "text") -> dict[str, Column]:
    """Deterministic quality-scoring features (webtext curation staples)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens_expr(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?]", ""))
    mean_word_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": stopword_ratio_expr(c, "en"),
        "mean_word_len": mean_word_len,
    }


def gopher_flags(col: str | Column = "text") -> dict[str, Column]:
    """Gopher-style document-quality rules (Rae et al. 2021, Table A1
    subset) as engine-exact column expressions — the standard pre-training
    curation gate:

    - ``flag_word_count``: 50 <= words <= 100,000
    - ``flag_mean_word_len``: mean word length in [3, 10]
    - ``flag_symbol_ratio``: ('#' + '...' occurrences) / words <= 0.1
    - ``flag_alpha_words``: >= 80% of words contain a letter
    - ``keep``: all of the above

    Every input to a comparison is an integer count or a division of two
    integer counts, so DuckDB reproduces the booleans bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.trim(c), r"\s+")
    n_words = F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(words))
    non_ws_chars = F.length(F.regexp_replace(c, r"\s", ""))
    # try_divide: n_words=0 -> null -> coalesce(False) (ANSI mode would
    # otherwise raise DIVIDE_BY_ZERO on empty documents)
    mean_wl = F.try_divide(non_ws_chars, n_words)
    symbols = F.try_divide(F.regexp_count(c, F.lit(r"#|\.\.\.")), n_words)
    alpha_words = F.size(F.filter(words, lambda w: w.rlike(r"\p{L}")))
    flags = {
        "n_words": n_words,
        "flag_word_count": (n_words >= 50) & (n_words <= 100000),
        "flag_mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "flag_symbol_ratio": F.coalesce(symbols <= 0.1, F.lit(False)),
        "flag_alpha_words": F.coalesce(
            F.try_divide(alpha_words, n_words) >= 0.8, F.lit(False)
        ),
    }
    flags["flag_mean_word_len"] = F.coalesce(flags["flag_mean_word_len"], F.lit(False))
    flags["keep"] = (
        flags["flag_word_count"]
        & flags["flag_mean_word_len"]
        & flags["flag_symbol_ratio"]
        & flags["flag_alpha_words"]
    )
    return flags


def quality_score_expr(col: str | Column = "text") -> Column:
    """Composite [0,1] quality score: length saturation + stopword signal."""
    f = quality_features(col)
    len_part = F.least(f["n_chars"] / F.lit(500.0), F.lit(1.0))
    return F.round(len_part * 0.5 + f["stopword_ratio"] * 0.5, 6)


def lang_id_expr(col: str | Column = "text") -> Column:
    """Heuristic language ID: CJK chars -> zh; else max stopword hits; 'und'.

    Priority on ties is fixed (en, fr, es, de) so results are deterministic.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens_expr(c)

    def hits(lang: str) -> Column:
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))

    h = {lang: hits(lang) for lang in ("en", "fr", "es", "de")}
    best = F.greatest(*h.values())
    expr = F.when(F.regexp_count(c, F.lit(_CJK_RE)) > 0, F.lit("zh"))
    chain = F.when(best <= 0, F.lit("und"))
    for lang in ("en", "fr", "es", "de"):  # fixed priority order
        chain = chain.when(h[lang] == best, F.lit(lang))
    return expr.otherwise(chain)


def normalized_text_expr(col: str | Column = "text") -> Column:
    """Lowercase + collapse whitespace — the canonical dedup key text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def doc_fingerprint(col: str | Column = "text") -> Column:
    """Deterministic content fingerprint: md5 of normalized text.

    md5 (not xxhash64) so the DuckDB oracle can reproduce it bit-for-bit.
    Engine-internal hashing (minhash/simhash buckets) uses xxhash64 instead.
    """
    return F.md5(normalized_text_expr(col))


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Arrow-batched pandas UDF: text -> array<string> of real BPE tokens.

    The engine twin of ``spec.bpe.encode`` — the UDF body IS the spec
    function, so spec-vs-engine identity is structural (pinned anyway in
    tests/test_bpe.py over the committed merges fixture).  Merges ship to
    executors once via closure capture (a ~200-entry list — broadcast-
    trivial); a per-batch word cache exploits Zipfian word frequency so
    each distinct word in a batch is merge-encoded once.

    This is deliberately NOT used by any driver query: DuckDB parity
    there stays on the RE2-safe pre-tokenizer count
    (``bpe_token_count_expr``), and the plan guard keeps BatchEvalPython
    out of driver plans.  Use this UDF when the budget number must be
    merge-table-exact (e.g. before paying for a training run).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    from ..spec.bpe import encode, make_ranks

    ranks = make_ranks(merges)  # once, in the closure — not per row

    @pandas_udf(ArrayType(StringType()))
    def _encode(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        return texts.map(
            lambda t: encode(t, merges, _cache=cache, _ranks=ranks)
            if t is not None
            else []
        )

    return _encode


def bpe_token_count_udf(merges: list[tuple[str, str]]):
    """Arrow-batched pandas UDF: text -> exact merge-table BPE token count."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    from ..spec.bpe import encode, make_ranks

    ranks = make_ranks(merges)  # once, in the closure — not per row

    @pandas_udf(IntegerType())
    def _count(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        return texts.map(
            lambda t: len(encode(t, merges, _cache=cache, _ranks=ranks))
            if t is not None
            else 0
        )

    return _count


def rare_word_stats(
    df,
    max_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-doc rare-word ratio — the OOV/noisiness quality signal.

    A token is RARE when its corpus-wide occurrence count is at most
    ``max_count``; gibberish, OCR damage, and boilerplate-stripped
    residue score high, clean prose scores low.  Returns
    (id_col, n_tokens, n_rare, rare_ratio) with rare_ratio rounded to
    6 dp over exact integer counts.

    Scale shape (same as line_dedup's hot-line trick, inverted): Zipf
    means the COMMON vocabulary (count > max_count) is the small side —
    it covers most occurrences but few types — so it broadcasts and
    rarity is a broadcast left-join miss; the corpus-wide token count is
    ONE map-side-combined groupBy.
    """
    from pyspark.sql import functions as F

    from ..plans.partitioning import EXPR_FANOUT_MIN_BYTES, fan_out

    toks = fan_out(
        df.select(F.col(id_col), F.col(text_col)),
        min_bytes=EXPR_FANOUT_MIN_BYTES,
    ).select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok")
    )
    hot = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > max_count)
        .select("tok", F.lit(True).alias("_common"))
    )
    flagged = toks.join(F.broadcast(hot), "tok", "left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_common").isNull(), 1).otherwise(0)).alias("n_rare"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "n_rare",
            F.round(F.col("n_rare") / F.col("n_tokens"), 6).alias("rare_ratio"),
        )
    )


# Writing-script codepoint ranges shared VERBATIM with the DuckDB oracle:
# literal range classes (not \p{script=...}) because Java regex spells
# scripts \p{IsLatin} while RE2 spells them \p{Latin} — a literal range
# means both engines run the identical pattern.
SCRIPT_RANGES = {
    "latin": "[A-Za-zÀ-ÖØ-öø-ÿĀ-ſ]",
    "cyrillic": "[Ѐ-ӿ]",
    "arabic": "[؀-ۿ]",
    "cjk": "[一-鿿぀-ゟ゠-ヿ가-힣]",  # han + hiragana + katakana + hangul
    "digit": "[0-9]",
}
_SCRIPT_PRIORITY = ("latin", "cjk", "cyrillic", "arabic", "digit")


def script_stats(df, id_col: str = "doc_id", text_col: str = "text"):
    """Writing-system composition per document — the multilingual
    curation signal (script-targeted corpus selection, mixed-script spam
    detection, transliteration-noise gates).

    Returns (id_col, n_latin, n_cyrillic, n_arabic, n_cjk, n_digit,
    dominant_script, mixed_script): counts are codepoint matches of the
    shared literal ranges; ``dominant_script`` is the argmax with a
    FIXED priority order on ties (latin, cjk, cyrillic, arabic, digit —
    deterministic, like lang_id), 'none' when no script matches;
    ``mixed_script`` is true when two different scripts each hold >= 20%
    of the scripted characters (the classic spam/injection shape).
    Pure column expressions — codegen, no shuffle at all.
    """
    c = F.col(text_col)
    n = {k: F.regexp_count(c, F.lit(r)) for k, r in SCRIPT_RANGES.items()}
    total = sum(n.values(), F.lit(0))
    best = F.greatest(*n.values())
    dom = F.when(total == 0, F.lit("none"))
    for k in _SCRIPT_PRIORITY:
        dom = dom.when(n[k] == best, F.lit(k))
    # two scripts >= 20% of scripted chars each (5*count >= total)
    over20 = sum(
        (F.when((n[k] > 0) & (n[k] * 5 >= total), 1).otherwise(0))
        for k in _SCRIPT_PRIORITY
    )
    return df.select(
        F.col(id_col),
        *[n[k].alias(f"n_{k}") for k in _SCRIPT_PRIORITY],
        dom.otherwise(F.lit("none")).alias("dominant_script"),
        (over20 >= 2).alias("mixed_script"),
    )
