from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from llm_document_parser_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="ldp-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.session.timeZone": "UTC"},
    )
    yield s
    s.stop()


@pytest.fixture
def jobs_in_group(spark):
    """``jobs_in_group(group, fn)``: the number of Spark jobs ``fn()``
    runs, counted under the job group ``group``."""

    def count(group: str, fn) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
