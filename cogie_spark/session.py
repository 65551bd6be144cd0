"""SparkSession factory with scale-oriented defaults.

Tuned for the sandbox (local[N], single JVM) but every setting is the one
we would ship to a 1000-executor cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic join selection);
- Arrow on (all scorers are pandas UDFs — Arrow batches are the Python
  boundary, mirroring the reference's batch-columnar execution,
  /root/reference/cogie/core/datableset.py:25-57);
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by --conf and AQE coalesces the tail.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_driver_memory() -> str:
    """min(24g, half of physical memory): local mode runs driver and
    executors in one JVM, and the other half is left to the Python
    workers, the page cache and the OS — a heap sized past physical
    memory gets the JVM OOM-killed instead of spilling."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(24 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "cogie_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("COGIE_SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("COGIE_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # broadcast anything under 64 MB — entity/dim tables are small
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = one JVM for driver+executors: give it real heap
        # or concurrent tasks thrash GC — sized from the host, see
        # _default_driver_memory; COGIE_DRIVER_MEM overrides
        .config(
            "spark.driver.memory",
            os.environ.get("COGIE_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # collect_list aggregations (blocking's bucket pair generation)
        # run in ObjectHashAggregate, which silently degrades to a
        # SORT-based fallback after 128 distinct keys per task — the
        # default re-introduces exactly the sort the bucket design
        # removes. 512k keys/task × ~300 B ≈ 150 MB, inside a normal
        # executor's aggregation budget.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "524288")
    )
    # ad-hoc conf overrides: COGIE_EXTRA_CONF="k=v;k2=v2" (A/B harness)
    for kv in filter(None, os.environ.get("COGIE_EXTRA_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    # profiling hook: COGIE_EVENT_LOG=<dir> writes the Spark event log
    # there (job/stage timelines — how the scaling legs are attributed)
    elog = os.environ.get("COGIE_EVENT_LOG")
    if elog:
        os.makedirs(elog, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", elog
        )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
