from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest

from bigdata_20251_steam_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture
def jobs_fired(spark):
    """``with jobs_fired() as ids:`` fills ``ids`` with the ids of the Spark
    jobs the block started, counted through a job group of its own."""
    sc = spark.sparkContext

    @contextmanager
    def _jobs():
        group = f"jobs-{uuid.uuid4().hex}"
        ids: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
            # job starts reach the status tracker through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return _jobs
