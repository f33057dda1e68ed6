from __future__ import annotations

import pytest

from biomedical_knowledge_graph_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="bkg-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)},
    )
    yield s


@pytest.fixture
def sql_executions(spark):
    """``sql_executions(action)``: the SQL executions ``action()`` ran,
    from the SQL status store once the listener bus has drained. The store
    keeps only the newest ``spark.sql.ui.retainedExecutions`` entries, so
    the count is taken from the newest execution id (ids are sequential),
    not the size."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def newest() -> int:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def count(action) -> int:
        before = newest()
        action()
        return newest() - before

    return count
