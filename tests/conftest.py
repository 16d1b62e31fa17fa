from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flirt_consume_spark.session import get_spark
from flirt_consume_spark.testing import duck_connect

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    # FLIRT_STATE_STORE=rocksdb flips every stateful streaming test
    # onto the RocksDB provider (the production state store for
    # large-state jobs) — the round-10 "state is bounded" claims are
    # measured on BOTH backends, not inferred from the memory store.
    import os

    if os.environ.get("FLIRT_STATE_STORE", "").lower() == "rocksdb":
        s.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duck_connect(SF_SMALL)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture
def jobs_started(spark):
    """Count the Spark jobs a zero-argument callable starts, under a
    fresh job group per call."""
    import uuid

    sc = spark.sparkContext

    def count(build) -> int:
        group = f"jobs-started-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
