from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from random_cut_forest_by_aws_spark import get_spark

    s = get_spark(app_name="rcf-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def seqs(spark):
    """10k-row deterministic sequences table, checkpointed for the test session."""
    from random_cut_forest_by_aws_spark.sources import sequences

    return sequences(spark, 10_000, seed=42).localCheckpoint(eager=True)
