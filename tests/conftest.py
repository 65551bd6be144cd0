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
