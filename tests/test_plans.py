"""Plan-shape regressions: the physical plans we designed for, asserted.

These pin the scale-critical properties SURVEY §4 calls out: column
pruning at the scan, predicate pushdown, broadcast joins for small dims,
narrow extraction, and uniform spread of a hot-host-skewed corpus.
"""

import pyspark.sql.functions as F
import pytest

from gonova_document_parser_spark.corpus import generate_pages
from gonova_document_parser_spark.operators.extract import extract_pages
from gonova_document_parser_spark.plans.partitioning import (
    salted_host_counts,
    spread_by_url,
    with_host_salt,
)

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "p")
    generate_pages(spark, 400, num_partitions=4).write.parquet(path)
    return path


def test_extraction_scan_prunes_columns(spark, pages_parquet):
    """The extract scan must read url/warc_ts/html only — never text/lang."""
    plan = _plan(extract_pages(spark.read.parquet(pages_parquet)))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" in read_schema and "url" in read_schema
    assert "text" not in read_schema and "lang" not in read_schema


def test_filter_pushdown_reaches_scan(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet).where(F.col("lang") == "en")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_small_dims_broadcast(spark):
    import __spark_entry__ as E

    plan = _plan(E.queries()["nation_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 2  # customer and nation
    assert "SortMergeJoin" not in plan


def test_hot_host_spread_is_uniform(spark):
    """50% of rows share one host; url-hash spread must still be uniform."""
    pages = generate_pages(spark, 2000, num_partitions=2)
    spread = spread_by_url(pages, 16)
    counts = [
        r["count"]
        for r in spread.groupBy(F.spark_partition_id().alias("p")).count().collect()
    ]
    assert len(counts) == 16
    assert max(counts) < 2 * (2000 / 16)  # no partition holds 2x the mean


def test_salted_host_counts_match_plain_groupby(spark):
    pages = generate_pages(spark, 1000, num_partitions=4)
    salted = {r["host"]: r["n_docs"] for r in salted_host_counts(pages, 8).collect()}
    from gonova_document_parser_spark.plans.partitioning import host_of

    plain = {
        r["host"]: r["count"]
        for r in pages.groupBy(host_of().alias("host")).count().collect()
    }
    assert salted == plain
    assert salted["hot.example.com"] > 400  # the skew actually exists


def test_byte_skew_also_spreads(spark):
    """Hot host carries 20x payloads (realistic: one domain serves huge
    pages).  url-hash spread must balance partition BYTES, not just rows —
    per-url hashing makes heavy rows land independently of their host."""
    import pandas as pd

    from gonova_document_parser_spark.corpus import PAGES_DDL, make_page

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                row = make_page(int(i))
                if row["url"].startswith("https://hot."):
                    row["html"] = row["html"] * 20
                rows.append(row)
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    pages = spark.range(1500, numPartitions=2).mapInPandas(gen, PAGES_DDL)
    spread = spread_by_url(pages, 16)
    per_part = (
        spread.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.sum(F.octet_length("html")).alias("bytes"))
        .collect()
    )
    sizes = [r["bytes"] for r in per_part]
    assert len(sizes) == 16
    assert max(sizes) < 2.0 * (sum(sizes) / len(sizes))


def test_read_raw_files_source(spark, tmp_path):
    """S2 directory source: one row per file, pages-shaped, extractable."""
    from gonova_document_parser_spark.corpus import make_page
    from gonova_document_parser_spark.operators.extract import extract_pages
    from gonova_document_parser_spark.sources import read_raw_files

    for i in range(6):
        (tmp_path / f"doc{i}.html").write_bytes(make_page(i)["html"])
    (tmp_path / "skipme.txt").write_bytes(b"not matched by glob")
    df = read_raw_files(spark, str(tmp_path), pattern="*.html")
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert df.count() == 6
    ext = extract_pages(df)
    assert ext.where(F.col("success")).count() == 6


def test_salt_is_deterministic(spark):
    pages = generate_pages(spark, 200, num_partitions=2)
    a = {r["url"]: r["salt"] for r in with_host_salt(pages, 16).collect()}
    b = {r["url"]: r["salt"] for r in with_host_salt(pages.repartition(5), 16).collect()}
    assert a == b


def test_fan_out_size_adaptive(spark, pages_parquet):
    """Round-6 contract: fan_out(min_bytes=) skips the repartition when
    the optimizer-estimated input is below the threshold, spreads when
    above it (or when min_bytes is 0/None — the unconditional classes:
    object-agg consumers, md5-family minhash builds, interpreted-HOF
    scorers)."""
    from gonova_document_parser_spark.plans.partitioning import fan_out

    df = spark.read.parquet(pages_parquet).select("url").coalesce(1)
    # far above the estimate -> skip even though the scan is 1 task
    skipped = fan_out(df, min_bytes=1 << 40)
    assert skipped is df
    # below the estimate -> spread to defaultParallelism
    spread = fan_out(df, min_bytes=1)
    assert spread is not df
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # None keeps the historical unconditional behavior
    uncond = fan_out(df)
    assert (
        uncond.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_package_reads_no_env_knobs_outside_session():
    """One partitioning policy, not env knobs: no package module reads the
    environment except session.py, which holds deployment settings (master,
    driver memory).  A tuning threshold belongs in a module constant next
    to the code that uses it."""
    import ast
    import pathlib

    import gonova_document_parser_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    env_names = {"environ", "environb", "getenv", "getenvb"}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path.relative_to(root).as_posix() == "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else None
            )
            imported = isinstance(node, ast.ImportFrom) and any(
                a.name in env_names for a in node.names
            )
            if name in env_names or imported:
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == []


@pytest.mark.parametrize("op", ["duplicated_spans", "remove_duplicated_spans"])
def test_span_operators_build_one_window_stream(spark, spark_jobs, op):
    """Each span operator tokenizes and explodes its windows ONCE (one
    Generate) and marks duplicated windows without a DISTINCT aggregate;
    at sf0.01 it runs at most 4 Spark jobs into a noop sink."""
    from gonova_document_parser_spark.functions import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    df = getattr(dedup, op)(docs, window=10)
    plan = _plan(df)
    assert plan.count("Generate") == 1, plan
    assert "count(distinct" not in plan, plan
    jobs = spark_jobs(
        lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert 1 <= len(jobs) <= 4, jobs
