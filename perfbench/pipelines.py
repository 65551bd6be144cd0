"""Staging and one pass of the link and corpus pipelines, through the public API.

A pass returns the rows the checks need; it releases every cache the
pipeline left behind and fails if any persisted RDD or state directory
survives, so a later pass never starts slower or fuller than this one.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from perfbench import workloads as W


def assert_clean(spark, *dirs: str) -> None:
    left = spark.sparkContext._jsc.getPersistentRDDs().size()
    if left:
        raise RuntimeError(f"{left} persistent RDD(s) survived the pass")
    stale = [d for d in dirs if os.path.exists(d)]
    if stale:
        raise RuntimeError(f"stale state directory: {stale}")


# ---------------------------------------------------------------- linkage


class LinkInput:
    """code_files(seed) staged to parquet, with its reference answers."""

    def __init__(self, work: str, n_groups: int, seed: int):
        table = W.code_file_table(n_groups, seed)
        self.path = os.path.join(work, f"code_files_{seed}_{n_groups}.parquet")
        pq.write_table(table, self.path)
        self.file_ids = table.column("file_id").to_pylist()
        self.labeled = W.labeled_pairs(table)

    def files(self, spark):
        """The pipeline input: ground-truth columns dropped."""
        return spark.read.parquet(self.path).drop("group_id", "member_idx")


def release(out: dict) -> None:
    """Drop everything one run_linkage call cached or checkpointed."""
    for df in out["_persisted"] + out["_checkpoints"]:
        df.unpersist()


def link_pass(spark, inp: LinkInput) -> dict:
    """One run_linkage call with the default LinkageConfig."""
    from cogie_spark.plans.linkage import LinkageConfig, run_linkage

    out = run_linkage(inp.files(spark), LinkageConfig())
    try:
        rows = [(r.file_id, r.cluster_id) for r in out["clusters"].collect()]
        pairs_scored = out["scored"].count()
    finally:
        release(out)
    assert_clean(spark)
    return {"rows": rows, "pairs_scored": pairs_scored}


# ----------------------------------------------------------------- corpus


class CorpusInput:
    """The synthetic documents table staged as <sf_dir>/documents.parquet,
    the layout q32_minhash_near_dup reads."""

    def __init__(self, work: str, n_docs: int, seed: int):
        self.rows = W.corpus_rows(n_docs, seed)
        self.sf_dir = os.path.join(work, f"corpus_{seed}")
        os.makedirs(self.sf_dir, exist_ok=True)
        pq.write_table(W.corpus_table(self.rows), os.path.join(self.sf_dir, "documents.parquet"))
        self.expected = W.near_dup_oracle(W.with_q32_clones(self.rows))

    def docs(self, spark):
        return spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))


def corpus_clean(spark, inp: CorpusInput) -> list:
    from cogie_spark.plans.corpus import clean_corpus

    return [r.doc_id for r in clean_corpus(inp.docs(spark))["kept"].collect()]


def corpus_near_dup(spark, inp: CorpusInput) -> list:
    from cogie_spark.queries import QUERIES

    pairs = [tuple(r) for r in QUERIES["q32_minhash_near_dup"](spark, inp.sf_dir).collect()]
    # q32 persists its input scan and never releases it
    spark.catalog.clearCache()
    return pairs


def corpus_pass(spark, inp: CorpusInput) -> dict:
    kept = corpus_clean(spark, inp)
    pairs = corpus_near_dup(spark, inp)
    assert_clean(spark)
    return {"kept": kept, "pairs": pairs}
