import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from gonova_document_parser_spark.session import get_spark

    spark = get_spark(app_name="gonova-tests", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` in a fresh job group and returns the
    ids of the Spark jobs it started.  A one-task sentinel job in a second
    group runs afterwards, and the count is read only once the status
    store shows the sentinel: the listener bus delivers job starts in
    order, so no job of ``fn`` is still in flight to the store."""
    import time
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sentinel = f"{group}-sentinel"
        try:
            sc.setJobGroup(group, group)
            fn()
            sc.setJobGroup(sentinel, sentinel)
            spark.range(1, numPartitions=1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(sentinel):
            assert time.monotonic() < deadline, "sentinel job never reported"
            time.sleep(0.05)
        return list(tracker.getJobIdsForGroup(group))

    return run
