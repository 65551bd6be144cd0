"""Sequence packing: assign documents to fixed-token-budget packs for
LLM training-data preparation.

Engine-native LLM-pipeline operator (no reference analogue — the
reference's data loaders pad each batch to max length,
/root/reference/cogie/io/loader/ner/trex_ner_loader.py feeds fixed
windows). Packing is the modern replacement: greedy bin-packing of
documents into sequences of at most ``budget`` tokens so padding waste
disappears from the training mix.

Distributed form — the one that holds at 100 TB:

- Global first-fit-decreasing is inherently sequential, so packing runs
  PER SHARD: documents are hash-sharded (``xxhash64(id) % shards``,
  ONE shuffle), and each shard packs independently inside a single
  ``applyInPandas`` group. This is the standard production shape
  (packing within shards/files); quality loss vs a global pack is
  bounded and measured, not guessed — see ``pack_stats``.
- Within a shard the algorithm is best-fit-decreasing over a sorted
  remaining-capacity list (O(n log n), numpy argsort + bisect — the
  loop is the algorithm, not row-wise Spark glue; the shard is the
  memory bound and the caller's knob).
- BFD/FFD guarantee ≤ 11/9·OPT + 1 bins per shard, so total waste is
  per-shard bounded; oversized documents (> budget tokens) become
  singleton packs flagged ``oversize`` for the caller to truncate or
  split — silently clipping them here would corrupt token counts.
- Deterministic: shard assignment is a pure hash, the in-shard order is
  (tokens desc, id asc), and bisect insertion breaks capacity ties on
  the lowest pack id. Same input → byte-identical pack ids.
- Output is NARROW (id, tokens, pack id, slot) — text never enters the
  shuffle; consumers join the assignment back to content on the id.
"""

from __future__ import annotations

import bisect

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PACK_SCHEMA = (
    "{id_field}, n_tokens long, shard int, pack_id long, "
    "pack_slot int, oversize boolean"
)


def _bfd_assign(sizes: np.ndarray, budget: int) -> np.ndarray:
    """Best-fit-decreasing over one shard. ``sizes`` must already be in
    the deterministic processing order (tokens desc, id asc); returns
    the local pack index per element, in the same order."""
    assign = np.empty(len(sizes), dtype=np.int64)
    caps: list[int] = []  # sorted remaining capacities of open packs
    cap_ids: list[int] = []  # pack id parallel to caps; ties → lowest id
    n_packs = 0
    for i, s in enumerate(sizes):
        s = int(s)
        if s > budget:  # oversize: singleton pack, never reopened
            assign[i] = n_packs
            n_packs += 1
            continue
        j = bisect.bisect_left(caps, s)  # tightest capacity that fits
        if j == len(caps):
            pack, rem = n_packs, budget - s
            n_packs += 1
        else:
            pack, rem = cap_ids[j], caps[j] - s
            del caps[j], cap_ids[j]
        assign[i] = pack
        k = bisect.bisect_left(caps, rem)
        # equal capacities: keep lowest pack id first so bisect_left
        # reuses it deterministically
        while k < len(caps) and caps[k] == rem and cap_ids[k] < pack:
            k += 1
        caps.insert(k, rem)
        cap_ids.insert(k, pack)
    return assign


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    shards: int | None = None,
) -> DataFrame:
    """Assign every row to a pack of at most ``budget`` total tokens.

    Returns (id, n_tokens, shard, pack_id, pack_slot, oversize):
    ``pack_id`` is globally unique (``shard * 2^32 + local``),
    ``pack_slot`` is the 0-based position inside the pack (the order a
    sequence builder should concatenate in), ``oversize`` marks
    singleton packs whose one document alone exceeds the budget.

    ``shards`` bounds per-task memory: each shard's (id, tokens) pairs
    — never the text — are held in one pandas group. Default is the
    session's shuffle partitioning. Raise it for huge corpora; quality
    degrades only marginally (measure with ``pack_stats``) AS LONG AS
    each shard keeps a healthy population — below ~64 docs/shard the
    bin-packing has nothing to combine and fill rate collapses, so
    size ``shards`` from the (known or estimated) row count when the
    corpus is small relative to the session's parallelism
    (scripts/corpus_job.py does exactly this).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    spark = df.sparkSession
    if shards is None:
        shards = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    id_field = next(f for f in df.schema.fields if f.name == id_col)
    schema = _PACK_SCHEMA.format(id_field=f"{id_col} {id_field.dataType.simpleString()}")

    narrow = df.select(
        F.col(id_col),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards)).cast("int").alias("shard"),
    )

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", id_col], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        local = _bfd_assign(pdf["n_tokens"].to_numpy(), budget)
        shard = int(pdf["shard"].iloc[0])
        pdf["pack_id"] = np.int64(shard) * np.int64(2**32) + local
        # slot = concatenation order inside the pack: the processing
        # order IS per-pack insertion order, so a stable cumcount is it
        pdf["pack_slot"] = pdf.groupby("pack_id").cumcount().astype("int32")
        pdf["oversize"] = pdf["n_tokens"].to_numpy() > budget
        return pdf[[id_col, "n_tokens", "shard", "pack_id", "pack_slot", "oversize"]]

    return narrow.groupBy("shard").applyInPandas(pack_shard, schema=schema)


def pack_stats(packed: DataFrame, budget: int) -> DataFrame:
    """One-row packing quality summary: pack count, token fill rate
    (tokens / (non-oversize packs × budget)), waste fraction, and the
    oversize count — the number the caller must truncate or split."""
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("pack_tokens"),
        F.max(F.col("oversize").cast("int")).alias("oversize"),
    )
    return per_pack.agg(
        F.count("*").alias("n_packs"),
        F.sum("oversize").alias("n_oversize"),
        F.sum(F.when(F.col("oversize") == 0, F.col("pack_tokens"))).alias("packed_tokens"),
        F.round(
            F.sum(F.when(F.col("oversize") == 0, F.col("pack_tokens")))
            / (F.greatest(F.sum(F.lit(1) - F.col("oversize")), F.lit(1)) * F.lit(float(budget))),
            6,
        ).alias("fill_rate"),
    )
