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
