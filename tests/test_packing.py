"""Sequence packing (operators/packing.py): invariants, determinism,
shard-local parity with a pure-Python BFD, quality, and plan shape."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cogie_spark.operators.packing import (
    _bfd_assign,
    pack_sequences,
    pack_stats,
)

BUDGET = 512


def _docs(spark, n=400, seed=7, max_len=300, oversize_every=0):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        tok = rng.randint(1, max_len)
        if oversize_every and i % oversize_every == 0:
            tok = BUDGET + rng.randint(1, 200)
        rows.append((i, tok))
    return spark.createDataFrame(rows, "doc_id long, n_tokens long")


def test_pack_invariants(spark):
    df = _docs(spark, oversize_every=37)
    packed = pack_sequences(df, BUDGET, shards=8).cache()
    # every doc assigned exactly once
    assert packed.count() == df.count()
    assert packed.select("doc_id").distinct().count() == df.count()
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("tot"),
        F.count("*").alias("n"),
        F.max(F.col("oversize").cast("int")).alias("over"),
    )
    # non-oversize packs respect the budget; oversize packs are singletons
    assert per_pack.filter((F.col("over") == 0) & (F.col("tot") > BUDGET)).count() == 0
    assert per_pack.filter((F.col("over") == 1) & (F.col("n") != 1)).count() == 0
    # slots are a dense 0..n-1 sequence inside each pack
    slot_ok = packed.groupBy("pack_id").agg(
        (F.count("*") == F.max("pack_slot") + 1).alias("dense"),
        (F.min("pack_slot") == 0).alias("zero"),
    )
    assert slot_ok.filter(~F.col("dense") | ~F.col("zero")).count() == 0
    packed.unpersist()


def test_pack_deterministic(spark):
    df = _docs(spark, n=250, seed=11)
    a = sorted(pack_sequences(df, BUDGET, shards=6).collect())
    b = sorted(pack_sequences(df.repartition(5), BUDGET, shards=6).collect())
    assert a == b


def test_pack_shard_parity_with_reference(spark):
    """shards=1 must reproduce a straightforward single-machine BFD."""
    df = _docs(spark, n=120, seed=3)
    got = {
        r.doc_id: (r.pack_id, r.pack_slot)
        for r in pack_sequences(df, BUDGET, shards=1).collect()
    }
    rows = sorted(df.collect(), key=lambda r: (-r.n_tokens, r.doc_id))
    import numpy as np

    local = _bfd_assign(np.array([r.n_tokens for r in rows]), BUDGET)
    slots: dict[int, int] = {}
    for r, pack in zip(rows, local):
        slot = slots.get(int(pack), 0)
        slots[int(pack)] = slot + 1
        assert got[r.doc_id] == (int(pack), slot)


def test_bfd_reference_quality_and_ties():
    import numpy as np

    # tight case: pairs summing exactly to budget must co-pack under BFD
    sizes = np.array([300, 212, 300, 212, 300, 212], dtype=np.int64)
    order = np.argsort(-sizes, kind="stable")
    assign = _bfd_assign(sizes[order], BUDGET)
    assert len(set(assign.tolist())) == 3
    # fill-rate floor on random sizes: BFD on 1..300 vs budget 512
    rng = random.Random(1)
    sz = np.array(sorted((rng.randint(1, 300) for _ in range(500)), reverse=True))
    assign = _bfd_assign(sz, BUDGET)
    n_packs = len(set(assign.tolist()))
    assert sz.sum() / (n_packs * BUDGET) >= 0.9


def test_pack_stats(spark):
    df = _docs(spark, n=200, seed=5, oversize_every=50)
    packed = pack_sequences(df, BUDGET, shards=4)
    row = pack_stats(packed, BUDGET).collect()[0]
    assert row.n_oversize == 4
    assert row.n_packs > row.n_oversize
    assert 0.5 <= row.fill_rate <= 1.0


def test_pack_plan_single_exchange(spark):
    """Packing costs exactly ONE shuffle (the shard hash) and the text
    column never enters it — the operator reads only (id, tokens)."""
    df = _docs(spark, n=50).withColumn("text", F.repeat(F.lit("x"), 1000))
    plan = pack_sequences(df, BUDGET, shards=4)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "text" not in plan


def test_pack_rejects_bad_budget(spark):
    with pytest.raises(ValueError):
        pack_sequences(_docs(spark, n=5), 0)
