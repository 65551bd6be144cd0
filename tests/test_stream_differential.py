"""Stream vs batch: the linkage stream scores through the batch
pipeline's cascade and config, so streaming a table in micro-batches
must cluster it like one run_linkage call over the same rows — except
where the stream's cluster-mediated cross-batch semantics differ by
design (a new row links to existing clusters and never merges them)."""

from __future__ import annotations

import tempfile
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from cogie_spark.fixtures.codefiles import code_files
from cogie_spark.io.tableio import TableIO
from cogie_spark.plans.linkage import LinkageConfig, run_linkage
from cogie_spark.streaming.incremental import incremental_link_batch


def _rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _partition(rows) -> set[frozenset]:
    """The clustering as a set of member sets (labels dropped)."""
    members = defaultdict(set)
    for fid, cid in rows:
        members[cid].add(fid)
    return {frozenset(m) for m in members.values()}


def _batch_rows(files, cfg=None) -> list[tuple[str, str]]:
    with run_linkage(files, cfg) as out:
        return [(r.file_id, r.cluster_id) for r in out["clusters"].collect()]


def _stream_rows(spark, batches, cfg=None) -> list[tuple[str, str]]:
    """Feed the batches in order into fresh state; each batch must
    release every RDD it persisted. (Ids, not a count: the context
    cleaner may drop earlier tests' garbage-collected caches meanwhile.)"""
    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_diff_"))
    rows = []
    for b, batch in enumerate(batches):
        before = _rdd_ids(spark)
        got = incremental_link_batch(batch, state, cfg=cfg, batch_id=b).collect()
        left = _rdd_ids(spark) - before
        assert not left, f"batch {b} left persisted RDDs {sorted(left)}"
        rows.extend((r.file_id, r.cluster_id) for r in got)
    return rows


@pytest.fixture(scope="module")
def code_table(spark):
    path = tempfile.mkdtemp(prefix="cogie_diff_src_")
    code_files(spark, n_groups=16, seed=42).write.mode("overwrite").parquet(path)
    files = spark.read.parquet(path)
    return files, _batch_rows(files)


@pytest.mark.parametrize("k", [1, 2, 4])
def test_stream_partition_equals_batch(spark, code_table, k):
    files, batch_rows = code_table
    split = F.pmod(F.xxhash64("file_id"), F.lit(k))
    batches = [files.filter(split == b) for b in range(k)]
    stream_rows = _stream_rows(spark, batches)

    assert sorted(f for f, _ in stream_rows) == sorted(f for f, _ in batch_rows)
    assert _partition(stream_rows) == _partition(batch_rows)


def test_bridge_row_takes_smaller_cluster_and_keeps_clusters_apart(spark):
    """A new row similar to two existing clusters joins the one with the
    smaller cluster_id; the two clusters stay separate. One batch run
    over the same rows merges all three through the bridge instead."""
    x = " ".join(f"alpha{i}" for i in range(24))
    y = " ".join(f"omega{i}" for i in range(24))
    # score = TF-IDF cosine only: bridge vs either side ~0.71, x vs y 0;
    # 2 rows per band so a ~0.48 Jaccard pair always shares a band
    cfg = LinkageConfig(
        bands=32, weights=(0.0, 0.0, 1.0), threshold=0.6, prefilter_est_jaccard=0.2
    )
    schema = "file_id string, lang string, content string"
    old = [("a1", "python", x), ("a2", "python", x), ("b1", "python", y), ("b2", "python", y)]
    new = [("n1", "python", f"{x} {y}")]

    stream = dict(_stream_rows(
        spark, [spark.createDataFrame(old, schema), spark.createDataFrame(new, schema)], cfg
    ))
    assert stream == {"a1": "a1", "a2": "a1", "b1": "b1", "b2": "b1", "n1": "a1"}

    batch = dict(_batch_rows(spark.createDataFrame(old + new, schema), cfg))
    assert set(batch.values()) == {"a1"}
