import os
import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    from tiflow_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tiflow-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@contextmanager
def count_jobs(spark: SparkSession):
    """Count the Spark jobs launched by the calling thread inside the
    block: runs it under a fresh job group and reads the group's job ids
    from the status tracker once the listener bus has drained. AQE runs
    each shuffle stage as its own job, so a single action can count as
    several jobs."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    out = SimpleNamespace(n=0)
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.n = len(sc.statusTracker().getJobIdsForGroup(group))
