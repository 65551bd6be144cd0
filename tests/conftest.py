from __future__ import annotations

import os

import pytest

from cogie_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    s = get_spark(app_name="cogie_spark_tests", master=f"local[{cpus}]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def no_leaked_rdds(spark):
    """Fail the test if an RDD it persisted or localCheckpointed is still
    persisted when it ends. Ids, not a count: the context cleaner may
    drop other tests' garbage-collected caches meanwhile."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())
    yield
    left = set(rdds().keySet()) - before
    assert not left, f"test left persisted RDDs {sorted(left)}"
