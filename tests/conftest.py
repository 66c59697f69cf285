import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from sparklog.session import build_spark

    s = build_spark(app="sparklog-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def sql_plans(spark, after: int = -1) -> list[tuple[int, str]]:
    """(execution id, final physical plan) of the session's latest SQL
    executions with an id above ``after``, read from Spark's SQL status
    store (what the UI's SQL tab shows; kept even with the UI off). It
    sees the plans of writes and of code that builds its own frames,
    such as jobs/run_pipeline.main run in-process."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    tail = store.executionsList(max(0, n - 200), 200)
    out = []
    for i in range(tail.size()):
        e = tail.apply(i)
        if e.executionId() > after:
            out.append((e.executionId(), e.physicalPlanDescription()))
    return out


def last_execution_id(spark) -> int:
    return max((i for i, _ in sql_plans(spark)), default=-1)
