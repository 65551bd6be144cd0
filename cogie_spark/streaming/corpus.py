"""Streaming corpus ingestion: the composed cleaning gate per
micro-batch, with cross-batch exact dedup against accumulated state.

A crawl arrives continuously; each micro-batch runs the SAME one-scan
tag+gate+dedup plan as the batch job (plans/corpus.py — no second
implementation to drift), then drops any document whose content sha256
was already admitted by an earlier batch (first-seen-wins, the
micro-batch analogue of the batch window-min). The reference has no
streaming surface at all (its toolkits are one-shot passes,
/root/reference/cogie/toolkit/tokenize/tokenize_toolkit.py) — this is
engine-native, and keeps its state through the same ``tableio.StateLog``
as streaming/incremental.py:

- state lives under one TableIO base, listed by ``corpus_manifest.json``
  (the single commit point). Batch N commits ``kept_delta_NNNNN`` (its
  kept rows: the durable output log), ``hashes_delta_NNNNN`` (the
  admitted hashes) and, with near-dup admission, ``bands_delta_NNNNN``;
- commits are IDEMPOTENT under foreachBatch's at-least-once contract: a
  retried batch_id short-circuits to its committed kept rows instead of
  appending its delta twice;
- every ``compact_every`` batches ``StateLog.compact`` folds the hash
  and band deltas into one ``{kind}_base_NNNNN`` generation (crash
  between write and publish leaves the old manifest readable); kept
  dirs are never folded — they are the stream's output, retention is
  the consumer's policy.

Near-dup admission composes the batch code: operators/dedup.py's family,
signature and pairs steps, then near_dup_prune's prune step. Only the
cross-batch gate against the band state is the stream's own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cogie_spark.io.tableio import RunScope, StateLog, TableIO, union_parts
from cogie_spark.operators.blocking import cross_band_pairs
from cogie_spark.operators.dedup import (
    NEAR_DUP_BANDS,
    NEAR_DUP_NUM_PERM,
    NEAR_DUP_SHINGLE_K,
    _near_dup_pairs,
    jaccard_verify_pairs,
    near_dup_bands,
    near_dup_signatures,
)
from cogie_spark.plans.corpus import CorpusConfig, _prune, kept_from_docs

_MANIFEST = "corpus_manifest.json"
_HASH = "sha256"


def _fold_hashes(parts: list[DataFrame]) -> DataFrame:
    """One row per admitted hash; src_batch is the batch that first
    admitted it."""
    return union_parts(parts).groupBy(_HASH).agg(F.min("src_batch").alias("src_batch"))


def incremental_clean_batch(
    batch: DataFrame,
    state: TableIO,
    cfg: CorpusConfig | None = None,
    batch_id: int = 0,
    compact_every: int = 8,
    near_dup: bool = False,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Clean one micro-batch and admit only first-seen content.

    Returns THIS batch's kept rows (post-gate, batch-local deduped,
    cross-batch deduped, redacted per cfg). Committed state: the kept
    rows under ``kept_delta_NNNNN`` and the admitted hashes under
    ``hashes_delta_NNNNN``, both recorded in the manifest atomically.

    ``near_dup=True`` extends first-seen-wins from exact content to
    NEAR-duplicates (the streaming form of plans/corpus.near_dup_prune):
    one signature pass over the batch (dedup.near_dup_signatures) feeds
    (a) the cross-batch admission gate — new docs whose bands collide
    with ADMITTED docs' band state are exact-verified against the
    history text (kept dirs, column-pruned scan bounded by a semi-join
    on candidate ids — the incremental_link_batch state discipline:
    state is scanned, never shuffled wholesale) and dropped at
    ``jaccard_threshold`` — and then (b) the within-batch transitive
    prune of the survivors, near_dup_prune's pairs and prune steps over
    the survivors' signatures, so a one-batch stream keeps exactly the
    rows near_dup_prune keeps. Admitted docs' bands become the
    ``bands_delta_NNNNN`` delta, folded by the same compaction as the
    hash state. The family (dedup's ``NEAR_DUP_*`` constants) and the
    threshold are pinned in the manifest on first use; a later batch
    with a different threshold raises instead of silently mixing
    incompatible band spaces.
    """
    cfg = cfg or CorpusConfig()
    log = StateLog(state, _MANIFEST, folds={"hashes": _fold_hashes, "bands": union_parts})

    # idempotent at-least-once: a retried batch_id returns its committed
    # kept rows; appending the delta again would double-admit content
    done = log.committed(batch_id, "kept")
    if done is not None:
        # same schema as the fresh-commit return below
        return done.drop(_HASH, "src_batch")

    # dedup-first kept builder: same rows as kept_view over the tagged
    # lineage (unit-tested equivalence), but the regex gates evaluate
    # post-shuffle across the cluster instead of inside the batch's
    # (often narrow) scan stage — plans/corpus.kept_from_docs
    kept = kept_from_docs(batch, cfg, hash_col=_HASH)

    hash_paths = log.paths("hashes")
    if hash_paths:
        seen = batch.sparkSession.read.parquet(*hash_paths)
        # broadcast NOT forced: state grows unbounded; the planner picks
        # the strategy from measured sizes (AQE) — at 100 TB this is a
        # shuffled left-anti on the 64-hex key, the partition-count knob
        kept = kept.join(seen.select(_HASH), _HASH, "left_anti")

    # batch-scoped caches (batch rows, signatures, the pair step's
    # caches, CC's checkpoint) — released when the scope closes, even
    # when the commit fails mid-batch, so a long stream with foreachBatch
    # retries never accumulates stranded partitions from failed attempts
    with RunScope() as scope:
        dirs = {"kept": log.delta_name("kept", batch_id)}
        if near_dup:
            # the banded family, pinned with the threshold on first use
            params = {
                "num_perm": NEAR_DUP_NUM_PERM, "bands": NEAR_DUP_BANDS,
                "shingle_k": NEAR_DUP_SHINGLE_K, "threshold": jaccard_threshold,
            }
            pinned = log.manifest.get("near_dup_params")
            if pinned is not None and pinned != params:
                raise ValueError(
                    f"near-dup params {params} differ from the stream's pinned "
                    f"{pinned}; band state is not comparable across param changes"
                )
            log.manifest["near_dup_params"] = params
            idc, text = cfg.id_col, cfg.text_col
            # kept feeds signatures, both verifies, the prune and the commit
            kept = scope.persist(kept)
            sigs = scope.persist(near_dup_signatures(kept, idc, text, (), "portable"))
            batch_bands = near_dup_bands(sigs, idc, ())
            band_paths = log.paths("bands")
            if band_paths:
                spark = batch.sparkSession
                cross = cross_band_pairs(
                    batch_bands, spark.read.parquet(*band_paths), id_col=idc, key_cols=()
                )
                old_txt = spark.read.parquet(*log.paths("kept"))
                dropped_new = jaccard_verify_pairs(
                    cross, kept, old_txt, idc, text, threshold=jaccard_threshold
                ).select(F.col("left_id").alias(idc)).distinct()
                # the survivors feed the pairs step (signatures semi-join,
                # the cascade side table), the prune and the commit:
                # cached, the cross-batch verify runs once
                kept = scope.persist(kept.join(dropped_new, idc, "left_anti"))
                sigs = sigs.join(kept.select(idc), idc, "left_semi")
            # within-batch: near_dup_prune's own steps over the survivors
            pairs = _near_dup_pairs(
                sigs, kept, idc, text, (), jaccard_threshold, "portable", scope
            )
            kept, _ = _prune(kept, pairs, idc, scope)

        state.write(dirs["kept"], kept.withColumn("src_batch", F.lit(batch_id)))
        committed = state.read(dirs["kept"])
        dirs["hashes"] = log.delta_name("hashes", batch_id)
        state.write(
            dirs["hashes"], committed.select(_HASH, "src_batch").dropDuplicates([_HASH])
        )
        if near_dup:
            # bands of ADMITTED rows only — read back off the committed
            # bytes so the band state matches the kept output exactly even
            # if the upstream plan is nondeterministic
            dirs["bands"] = log.delta_name("bands", batch_id)
            state.write(
                dirs["bands"],
                batch_bands.join(committed.select(F.col(idc)), idc, "left_semi"),
            )
        log.commit(batch_id, dirs)
        log.compact(compact_every)
    return committed.drop(_HASH, "src_batch")


def start_corpus_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    cfg: CorpusConfig | None = None,
    compact_every: int = 8,
    near_dup: bool = False,
    jaccard_threshold: float = 0.7,
):
    """File-source Structured Stream: every new parquet file under
    ``input_dir`` is a micro-batch of documents to clean and admit."""
    state = TableIO(spark, state_dir)

    def handle(batch: DataFrame, batch_id: int):
        incremental_clean_batch(
            batch, state, cfg=cfg, batch_id=batch_id, compact_every=compact_every,
            near_dup=near_dup, jaccard_threshold=jaccard_threshold,
        )

    return (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
