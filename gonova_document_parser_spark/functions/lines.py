"""Line-level corpus deduplication (CCNet / RefinedWeb style).

Web boilerplate (cookie banners, nav menus, "subscribe" footers) repeats
the same LINE across thousands of documents while each document's body is
unique.  Dropping lines that occur in more than ``max_docs`` distinct
documents is the classic post-extraction curation step (CCNet §3.1,
RefinedWeb "line-wise corrections") and complements the whole-document
dedup family in ``dedup.py``.

Scale shape (the 100 TB path):

  1. ``posexplode(split(text, '\\n'))``    — narrow expansion, fan_out first
  2. ONE groupBy(line) with a count-distinct-docs agg — the only shuffle
     that touches the full corpus; partial aggregation applies.
  3. The hot-line table is tiny (bounded by boilerplate diversity, not
     corpus size), so the drop-join broadcasts — no second full shuffle.
  4. Reassembly groups by doc_id: collect_list + array_sort on (pos, line)
     keeps original line order without a global sort.

Empty lines are structural, not boilerplate: they are never counted and
never dropped, so paragraph breaks survive curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.partitioning import EXPR_FANOUT_MIN_BYTES, fan_out


def line_dedup(
    df: DataFrame,
    max_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop every line that appears in more than ``max_docs`` distinct docs.

    Returns one row per document: (id_col, clean_text, n_kept, n_dropped).
    ``clean_text`` preserves the original order and bytes of surviving
    lines ('\\n'-joined); all occurrences of a hot line are dropped,
    including repeats inside one document.  Lines split on ``\\r?\\n``, so
    CRLF input dedups against LF input with identical content and the
    reassembled text is LF-normalized (real crawl text mixes both).

    The hot-line table is broadcast: boilerplate sets are small even at
    web scale.
    """
    lines = fan_out(
        df.select(F.col(id_col), F.col(text_col)),
        min_bytes=EXPR_FANOUT_MIN_BYTES,
    ).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\r?\n", -1)).alias("pos", "line"),
    )
    # count/join on a 16-byte md5 digest, not the line string: the count
    # groupBy is the one corpus-wide shuffle here, and a binary digest key
    # moves ~3x fewer bytes than typical boilerplate lines (128 bits — no
    # birthday loss at web scale, unlike a 64-bit hash).  Output is
    # unchanged: grouping by md5(line) IS grouping by line.
    lines = lines.withColumn("lh", F.unhex(F.md5("line")))
    hot = (
        lines.where(F.length("line") > 0)
        .groupBy("lh")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .where(F.col("n_docs") > max_docs)
        .select("lh", F.lit(1).alias("is_hot"))
    )
    flagged = lines.join(F.broadcast(hot), "lh", "left").select(
        F.col(id_col),
        "pos",
        "line",
        F.when(F.col("is_hot").isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("keep"),
    )
    ordered = F.array_sort(F.collect_list(F.struct("pos", "line", "keep")))
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.filter(ordered, lambda x: x["keep"] == 1), lambda x: x["line"]
            ),
        ).alias("clean_text"),
        F.sum("keep").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("keep")).alias("n_dropped"),
    )
