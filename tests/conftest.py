import os
import re
import threading
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


@contextmanager
def count_py4j(spark: SparkSession):
    """Count the py4j commands the calling thread sends to the JVM inside
    the block; each is one driver-to-JVM round trip. Counts the commands
    of plan building as well as of actions."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    caller = threading.get_ident()
    out = SimpleNamespace(n=0)

    def send_command(*args, **kwargs):
        if threading.get_ident() == caller:
            out.n += 1
        return real(*args, **kwargs)

    client.send_command = send_command
    try:
        yield out
    finally:
        client.send_command = real


def crash_once(monkeypatch, obj, attr: str, when):
    """Patch ``obj.<attr>`` so that the first call whose arguments satisfy
    ``when(*args, **kwargs)`` raises ``RuntimeError`` (an injected crash)
    and every other call delegates to the original. Returns a list that
    holds the crashed call's arguments once it has fired."""
    real = getattr(obj, attr)
    fired = []

    def call(*args, **kwargs):
        if not fired and when(*args, **kwargs):
            fired.append(args)
            raise RuntimeError(f"injected crash: {attr}{args}")
        return real(*args, **kwargs)

    monkeypatch.setattr(obj, attr, call)
    return fired


def _final_plan(description: str) -> str:
    """The final plan of an adaptive plan description. It lists its tree
    twice, the final plan first, then the initial plan, and the node
    details follow both trees: cut the initial tree and keep the details
    of the final tree's nodes only."""
    tree, sep, rest = description.partition("+- == Initial Plan ==")
    if not sep:
        return description
    ids = set(re.findall(r" \((\d+)\)", tree))
    details = [
        block.strip()
        for block in rest.split("\n\n")[1:]
        if (m := re.match(r"\((\d+)\) ", block.strip())) and m.group(1) in ids
    ]
    return tree + "\n\n" + "\n\n".join(details) + "\n"


@contextmanager
def executed_plans(spark: SparkSession):
    """Collect the final physical plans of the SQL executions run inside
    the block, oldest first. The status store keeps only the newest
    executions, so they are selected by id, not by position."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    n = store.executionsCount()
    before = store.executionsList(n - 1, 1).apply(0).executionId() if n else -1
    plans: list[str] = []
    try:
        yield plans
    finally:
        bus.waitUntilEmpty()
        execs = store.executionsList()
        plans.extend(
            _final_plan(execs.apply(i).physicalPlanDescription())
            for i in range(execs.size())
            if execs.apply(i).executionId() > before
        )
