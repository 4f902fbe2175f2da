"""Correctness references: the Spark-free ``spec`` oracle for extraction and
canonical output hashes (plus the DuckDB oracle) for queries."""

from __future__ import annotations

import decimal
import hashlib
import math
import multiprocessing
import os

# ---------------------------------------------------------------------------
# Extraction: spec.extract_document run Spark-free
# ---------------------------------------------------------------------------

EXTRACT_FIELDS = ("page_type", "extracted_text", "spans", "n_blocks", "success", "error")


def doc_digest(page_type, text, spans, n_blocks, success, error) -> str:
    """Digest of one extracted document; spans as (start, end, kind)."""
    canon = (page_type, text, [tuple(s) for s in spans or ()], n_blocks, success, error)
    return hashlib.sha256(repr(canon).encode()).hexdigest()[:16]


def spec_digest(payload: bytes) -> str:
    from gonova_document_parser_spark.spec import extract_document

    r = extract_document(payload)
    return doc_digest(*(r[f] for f in EXTRACT_FIELDS))


def _digest_chunk(payloads: list[bytes]) -> list[str]:
    return [spec_digest(p) for p in payloads]


def read_corpus(path: str) -> tuple[list[str], list[bytes]]:
    """(urls, payloads) of the parquet corpus, read without Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["url", "html"])
    return t.column("url").to_pylist(), t.column("html").to_pylist()


def spec_oracle(urls: list[str], payloads: list[bytes], workers: int) -> dict[str, str]:
    """url -> spec digest, computed Spark-free in ``workers`` processes."""
    step = -(-len(payloads) // workers)
    chunks = [payloads[i : i + step] for i in range(0, len(payloads), step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(len(chunks)) as pool:
        parts = pool.map(_digest_chunk, chunks)
        pool.close()
        pool.join()
    return dict(zip(urls, (d for part in parts for d in part)))


def corpus_digest(oracle: dict[str, str]) -> str:
    h = hashlib.sha256()
    for url in sorted(oracle):
        h.update(f"{url}\t{oracle[url]}\n".encode())
    return h.hexdigest()[:24]


def extraction_failures(rows, oracle: dict[str, str]) -> int:
    """Lost + duplicated + mismatched documents among Spark output ``rows``
    (each with url and the EXTRACT_FIELDS) against the oracle."""
    seen: dict[str, int] = {}
    failed = 0
    for r in rows:
        seen[r["url"]] = seen.get(r["url"], 0) + 1
        if seen[r["url"]] > 1:
            failed += 1  # duplicated
            continue
        want = oracle.get(r["url"])
        if want is None or want != doc_digest(*(r[f] for f in EXTRACT_FIELDS)):
            failed += 1  # extra or mismatched
    failed += sum(1 for url in oracle if url not in seen)  # lost
    return failed


# ---------------------------------------------------------------------------
# Queries: canonical output hash, comparable across Spark and DuckDB
# ---------------------------------------------------------------------------


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.9g}"
    return str(v)


def canonical_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash: columns sorted by name, cells stringified the
    way the project's DuckDB oracle comparison does, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for row in canon:
        h.update(repr(row).encode())
    return f"{len(canon)}:{h.hexdigest()[:24]}"


def spark_hash(df) -> str:
    return canonical_hash(df.columns, [tuple(r) for r in df.collect()])


def duckdb_hashes(sf_dir: str, sqls: dict[str, str]) -> dict[str, str]:
    """Canonical hash of each oracle SQL over ``sf_dir``'s documents table."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{os.path.join(sf_dir, 'documents.parquet')}'"
        )
        out = {}
        for name, sql in sqls.items():
            rel = con.execute(sql)
            out[name] = canonical_hash([d[0] for d in rel.description], rel.fetchall())
        return out
    finally:
        con.close()
