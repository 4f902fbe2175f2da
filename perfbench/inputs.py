"""Seeded benchmark inputs.

Two inputs, both a pure function of the seed:

* the pages corpus for ``extract``:
  ``corpus.generate_pages(spark, n, seed)`` written once to zstd parquet
  (70/20/10 html/pdf/scanned, one hot host holding ~50% of rows);
* a ``documents`` table for ``queries`` (doc_id, text, lang, source,
  n_chars) drawn from the shape measured on the project's sf test tables
  (``documents.parquet`` of sf0.1, 5000 rows, and sf0.01, 500 rows):

  - text: a uniform 10-99 words, each uniform over the same 30-word
    vocabulary (every word 8829-9182 times in sf0.1's 270k words);
  - near duplicates: exactly 1 row in 20 (250 of 5000, 25 of 500) is
    rewritten, in row order, as another row's text plus " dup"; a few of
    those sources were themselves rewritten first (4 of 250 in sf0.1);
  - lang: en/zh/es/fr/de at sf0.1's shares, 41.18/15.06/14.88/14.84/14.04%;
  - doc_id = row index, source = ``src{doc_id % 20}``, n_chars = len(text).

  Written with pyarrow, so it costs no Spark job.
"""

from __future__ import annotations

import os

import numpy as np

VOCAB = (
    "a the data row column table scan join hash merge sort group agg filter "
    "key value order line part customer batch stream window spark query "
    "vector small big fast slow"
).split()
WORDS_MIN, WORDS_MAX = 10, 99
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4118, 0.1506, 0.1488, 0.1484, 0.1404]
N_SOURCES = 20
DUP_EVERY = 20  # one row in DUP_EVERY is a near duplicate


def documents_table(n_docs: int, seed: int):
    """The ``documents`` table as a pyarrow Table (deterministic in seed)."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_words = rng.integers(WORDS_MIN, WORDS_MAX + 1, size=n_docs)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), size=k)]) for k in n_words]
    dups = np.sort(rng.choice(n_docs, size=n_docs // DUP_EVERY, replace=False))
    for i in dups:
        j = (i + rng.integers(1, n_docs)) % n_docs  # any other row
        texts[i] = texts[j] + " dup"
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(sf_dir: str, n_docs: int, seed: int) -> None:
    """Write ``documents.parquet`` into ``sf_dir`` (the queries' sf layout)."""
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        documents_table(n_docs, seed),
        os.path.join(sf_dir, "documents.parquet"),
        compression="zstd",
    )


def write_corpus(spark, path: str, n_pages: int, seed: int, n_files: int) -> None:
    """Generate the pages corpus with the repo's generator and write it."""
    from gonova_document_parser_spark.corpus import generate_pages

    generate_pages(spark, n_pages, seed=seed, num_partitions=n_files).write.mode(
        "overwrite"
    ).parquet(path)
