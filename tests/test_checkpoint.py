"""Checkpoint manifests: atomic commits, resume-from-last-commit
(the reference trainer's skip-to-global-step semantics,
/root/reference/cogie/core/trainer.py:195-213)."""

from __future__ import annotations

import json
import tempfile

from cogie_spark.io.tableio import CheckpointManager
from cogie_spark.operators.cc import connected_components


def test_commit_and_latest_roundtrip(spark):
    ck = CheckpointManager(spark, tempfile.mkdtemp(prefix="ck_"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    out = ck.commit("stage1", df, iteration=3, input_fingerprint="abc")
    assert out.count() == 2
    latest = ck.latest("stage1")
    assert latest is not None and latest[1] == 3
    manifest = json.loads((ck.base / "stage1" / "_manifest.json").read_text())
    assert manifest["commits"][-1]["rows"] == 2
    assert manifest["commits"][-1]["input_fingerprint"] == "abc"


def test_cc_resumes_from_committed_iteration(spark):
    """A restarted CC call with the same checkpoint dir must resume from
    the committed edge snapshots — even if the caller passes a stale
    edge input — and converge to the same clusters."""
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d")], ["left_id", "right_id"]
    )
    ckdir = tempfile.mkdtemp(prefix="ck_cc_")
    first = {
        r["file_id"]: r["cluster_id"]
        for r in connected_components(
            edges, checkpoint=CheckpointManager(spark, ckdir), release_into=[]
        ).collect()
    }
    # resume: pass an EMPTY edge list; the committed snapshot must win
    empty = spark.createDataFrame([], "left_id string, right_id string")
    resumed = {
        r["file_id"]: r["cluster_id"]
        for r in connected_components(
            empty, checkpoint=CheckpointManager(spark, ckdir), release_into=[]
        ).collect()
    }
    assert resumed == first == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_metrics_and_lineage_tables(spark):
    ck = CheckpointManager(spark, tempfile.mkdtemp(prefix="ck_m_"))
    df = spark.createDataFrame([(1,)], ["x"])
    ck.commit("s", df, iteration=1)
    ck.log_metric("s", 1, "rows", 1.0)
    m = ck.metrics_df().collect()
    ln = ck.lineage_df().collect()
    assert m[0]["key"] == "rows" and m[0]["stage"] == "s"
    assert ln[0]["rows"] == 1 and ln[0]["iteration"] == 1


def test_partition_lineage_table(spark):
    """Per-partition lineage (north rule): one row per snapshot parquet
    file with rows + xor-composable content fingerprint; the xor of all
    file fingerprints is invariant to how rows were partitioned."""
    from functools import reduce

    ck = CheckpointManager(spark, tempfile.mkdtemp(prefix="ck_pl_"))
    data = [(i, f"v{i}") for i in range(100)]
    df = spark.createDataFrame(data, ["k", "v"])
    ck.commit("s", df.repartition(4), iteration=0)
    # same logical table, different partitioning AND row order
    ck.commit("s", df.repartition(7, "v"), iteration=1)
    pl = ck.partition_lineage_df().collect()
    by_iter = {
        it: [r for r in pl if r["iteration"] == it and r["stage"] == "s"]
        for it in (0, 1)
    }
    assert sum(r["rows"] for r in by_iter[0]) == 100
    assert sum(r["rows"] for r in by_iter[1]) == 100
    assert len(by_iter[0]) != len(by_iter[1])  # genuinely different layouts
    assert all("/" not in r["file"] for r in pl)  # basenames only
    fp0 = reduce(lambda a, b: a ^ b, (r["fingerprint"] for r in by_iter[0]))
    fp1 = reduce(lambda a, b: a ^ b, (r["fingerprint"] for r in by_iter[1]))
    assert fp0 == fp1  # partitioning-invariant whole-table fingerprint
    # content change must move the composed fingerprint
    ck.commit("s", df.where("k < 99"), iteration=2)
    fp2 = reduce(
        lambda a, b: a ^ b,
        (
            r["fingerprint"]
            for r in ck.partition_lineage_df().collect()
            if r["iteration"] == 2
        ),
    )
    assert fp2 != fp0


def test_verify_commit_detects_corruption(spark):
    """verify_commit: a clean snapshot verifies ok; a rewritten snapshot
    file (same name, different rows) is named in `mismatched`; a deleted
    file in `missing`; an extra file in `unexpected`."""
    import os
    import shutil

    base = tempfile.mkdtemp(prefix="ck_ver_")
    ck = CheckpointManager(spark, base)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(50)], ["k", "v"])
    ck.commit("s", df.repartition(3), iteration=0)
    ck.commit("s", df.repartition(3), iteration=1)

    res = ck.verify_commit("s")
    assert res["ok"] and res["iteration"] == 1 and res["files"] >= 1
    assert ck.verify_commit("s", iteration=0)["ok"]

    snap = os.path.join(base, "s", "snap_00001")
    parts = sorted(f for f in os.listdir(snap) if f.endswith(".parquet"))
    assert len(parts) >= 2
    # corrupt: overwrite one file with another's bytes (valid parquet,
    # wrong content — the realistic partial-overwrite failure). The
    # local FS keeps Hadoop .crc sidecars; overwrite those in step so
    # the read itself succeeds and verify_commit does the detection.
    shutil.copyfile(os.path.join(snap, parts[0]), os.path.join(snap, parts[1]))
    crc0, crc1 = (os.path.join(snap, f".{p}.crc") for p in (parts[0], parts[1]))
    if os.path.exists(crc0):
        shutil.copyfile(crc0, crc1)
    res = ck.verify_commit("s", iteration=1)
    assert not res["ok"]
    assert parts[1] in res["mismatched"] or parts[1] in res["unexpected"]
    # earlier commit is untouched and still verifies
    assert ck.verify_commit("s", iteration=0)["ok"]

    # delete a file -> missing
    os.remove(os.path.join(snap, parts[0]))
    res = ck.verify_commit("s", iteration=1)
    assert not res["ok"] and parts[0] in res["missing"]


def test_expire_retains_latest_and_deletes_old_snapshots(spark):
    """expire(keep_last=k): manifest pruned first, superseded snapshot
    dirs deleted, latest/verify_commit unaffected on retained commits;
    same-iteration re-commits (shared dir) are never deleted."""
    import os

    base = tempfile.mkdtemp(prefix="ck_exp_")
    ck = CheckpointManager(spark, base)
    df = spark.createDataFrame([(i,) for i in range(20)], ["k"])
    for it in range(4):
        ck.commit("s", df.where(f"k >= {it}"), iteration=it)

    expired = ck.expire("s", keep_last=2)
    assert expired == [0, 1]
    assert not os.path.exists(os.path.join(base, "s", "snap_00000"))
    assert not os.path.exists(os.path.join(base, "s", "snap_00001"))
    cur, it = ck.latest("s")
    assert it == 3 and cur.count() == 17
    assert ck.verify_commit("s", iteration=2)["ok"]
    assert ck.expire("s", keep_last=2) == []  # idempotent

    # re-commit at iteration 3 (same dir) then expire keep_last=1:
    # iterations 2 and old-3 are dropped, but old-3 references the SAME
    # path as the retained commit — its dir must not be deleted
    ck.commit("s", df.where("k >= 3"), iteration=3)
    assert ck.expire("s", keep_last=1) == [2, 3]
    assert not os.path.exists(os.path.join(base, "s", "snap_00002"))
    cur, it = ck.latest("s")
    assert it == 3 and cur.count() == 17
    # lineage history is never pruned
    assert ck.lineage_df().count() == 5
