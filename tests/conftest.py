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


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "leaks_rdds(reason): exempt from no_leaked_rdds — the test drives a "
        "frozen entry point that drops the release handle; say which",
    )


@pytest.fixture(autouse=True)
def no_leaked_rdds(request):
    """Fail any test that takes ``spark`` if an RDD it persisted or
    localCheckpointed is still persisted when it ends. Ids, not a
    count: the context cleaner may drop other tests' garbage-collected
    caches meanwhile."""
    marker = request.node.get_closest_marker("leaks_rdds")
    if "spark" not in request.fixturenames or marker is not None:
        yield
        return
    rdds = request.getfixturevalue("spark").sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())
    yield
    left = set(rdds().keySet()) - before
    assert not left, f"test left persisted RDDs {sorted(left)}"
