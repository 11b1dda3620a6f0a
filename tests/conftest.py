from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from etl_online_retail_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("tests", shuffle_partitions=4)
    yield spark
    spark.stop()


def assert_no_exchange_above_cache(df) -> None:
    """Structural plan assertion (r10 advice item): walk the EXECUTED
    physical plan tree and require (a) at least one InMemoryTableScan
    leaf and (b) no Exchange node anywhere ABOVE it. Walking node
    classes instead of splitting the rendered string means a Spark
    plan-rendering change cannot silently turn the check into a no-op —
    and the walk stops at the cached scan, so the cached relation's own
    build plan (which embeds its build exchange but never executes
    here) cannot false-positive."""
    exchanges: list[str] = []
    cache_hits: list[str] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls.startswith("AdaptiveSparkPlanExec"):
            walk(node.executedPlan())
            return
        if "InMemoryTableScan" in cls:
            cache_hits.append(cls)
            return
        if "Exchange" in cls or cls.startswith("ShuffleQueryStage"):
            exchanges.append(cls)
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    assert cache_hits, "plan never reads a cached (InMemoryTableScan) relation"
    assert not exchanges, \
        f"Exchange node(s) above the cached view scan: {exchanges}"


def cached_entries(spark) -> int:
    """Entries in the session's cache manager (a leaked .cache() shows
    up as one more after the call than before it)."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def new_plan_descriptions(spark, run) -> list[str]:
    """The physicalPlanDescription of every SQL execution `run` adds to
    the status store (ids rise monotonically; the store keeps the newest
    executions, so reading its tail is enough)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def tail():
        n = store.executionsCount()
        xs = store.executionsList(max(0, n - 256), 256)
        return [xs.apply(i) for i in range(xs.size())]

    last = max((x.executionId() for x in tail()), default=-1)
    run()
    new = [x.physicalPlanDescription() for x in tail()
           if x.executionId() > last]
    assert new, "the call ran no SQL execution"
    return new
