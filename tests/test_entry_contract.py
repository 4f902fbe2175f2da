"""Driver-contract fixtures: entry() smoke + queries()/oracle_sql() parity.

Runs the same comparison the driver performs (row-count + schema +
order-insensitive value compare via DuckDB) at sf0.001 so the suite stays
fast; the driver repeats it at sf0.01.
"""

import os

import pytest

import __spark_entry__ as E
from tests.oracle_compare import compare_query, duckdb_connection

SF_DIR = "/root/testdata/sf0.001"
# the ivf_topk oracle reads the materialized index for THIS corpus (the
# driver leaves the default, /root/testdata/sf0.01)
os.environ["GONOVA_ORACLE_SF_DIR"] = SF_DIR


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"url", "page_type", "n_blocks", "success", "text_len"}


def test_oracle_keys_subset_of_queries():
    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs)
    # every query is currently DuckDB-oracled; keep the regression margin
    # tight so a new rows-only query is a conscious, visible choice
    assert len(set(qs) - set(os_)) <= 2


@pytest.mark.parametrize(
    "read, table",
    [(E._docs, "documents"), (E._events, "events"), (E._emb, "embeddings")],
)
def test_declared_schema_matches_inferred(spark, read, table):
    """The sf readers declare their schemas; drift in the generated
    tables fails here rather than as a cast error deep in one query."""
    inferred = spark.read.parquet(f"{SF_DIR}/{table}.parquet").schema
    assert read(spark, SF_DIR).schema == inferred


def test_docs_read_runs_no_spark_job(spark, spark_jobs):
    """Every query builds on ``_docs``; with the schema declared, building
    it schedules no schema-inference job."""
    assert spark_jobs(lambda: E._docs(spark, SF_DIR)) == []


@pytest.fixture(scope="module")
def duck():
    con = duckdb_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_query_matches_oracle(spark, duck, name):
    fn = E.queries()[name]
    df = fn(spark, SF_DIR)
    sql = E.oracle_sql().get(name)
    if sql is None:
        assert df.count() >= 0  # rows-only contract
        return
    ok, detail = compare_query(df, duck, sql)
    assert ok, f"{name}: {detail}"


def test_no_cartesian_or_rowwise_python_in_any_query_plan(spark):
    """Sweeping scale-guard: NO driver query may compile to a
    CartesianProduct (all-pairs blowup) or BatchEvalPython (row-at-a-time
    Python UDF — only Arrow-batched ArrowEvalPython/MapInPandas allowed)."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in E.queries().items():
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders
