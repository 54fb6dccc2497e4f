import itertools
import os

import pytest

from feast_hive_spark.session import get_spark
from feast_hive_spark.sources.tables import register_views

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="feast_hive_spark_tests")
    register_views(spark, SF_DIR)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def shuffle_records(df) -> list[int]:
    """recordsRead of every ShuffleExchange in the executed (AQE-final)
    physical plan — the load-test probe for "did the map side collapse
    before the exchange".  py4j traversal: adaptive roots re-enter via
    executedPlan(), materialized stages via plan(), reused exchanges
    via child().  The DataFrame must already have been executed."""

    def walk(node):
        cls = node.getClass().getSimpleName()
        mets = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            mets[kv._1()] = kv._2().value()
        yield cls, mets
        if "AdaptiveSparkPlan" in cls:
            yield from walk(node.executedPlan())
            return
        if "QueryStage" in cls:
            yield from walk(node.plan())
            return
        if "ReusedExchange" in cls:
            yield from walk(node.child())
            return
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    plan = df._jdf.queryExecution().executedPlan()
    return [
        m["recordsRead"]
        for cls, m in walk(plan)
        if cls == "ShuffleExchangeExec" and "recordsRead" in m
    ]


def cached_rdd_ids(spark) -> set:
    """Ids of the RDDs that hold block-manager storage right now."""
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


_job_groups = itertools.count()


def count_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, #Spark jobs).
    The group name is never reused: ``id(fn)`` would be, since a bound
    method's id can recur once the previous one is freed."""
    sc = spark.sparkContext
    group = f"count_jobs_{next(_job_groups)}"
    sc.setJobGroup(group, "count_jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
