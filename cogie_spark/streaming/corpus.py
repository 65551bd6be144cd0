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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cogie_spark.io.tableio import RunScope, StateLog, TableIO, union_parts
from cogie_spark.plans.corpus import CorpusConfig, kept_from_docs

_MANIFEST = "corpus_manifest.json"
_HASH = "sha256"
# near-dup admission's MinHash family and block cap; pinned in the
# manifest with the threshold (band state is only comparable under one)
_ND_NUM_PERM, _ND_BANDS, _ND_SHINGLE_K, _ND_MAX_BLOCK_SIZE = 32, 8, 8, 256


def _fold_hashes(parts: list[tuple[int | None, DataFrame]]) -> DataFrame:
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
    one MinHash signature pass over the batch feeds both (a) the
    within-batch transitive prune (candidate_pairs + exact char-shingle
    Jaccard verify + connected-components min-id representative) and
    (b) the cross-batch admission gate — new docs whose bands collide
    with ADMITTED docs' band state are exact-verified against the
    history text (kept dirs, column-pruned scan bounded by a semi-join
    on candidate ids — the incremental_link_batch state discipline:
    state is scanned, never shuffled wholesale) and dropped at
    ``jaccard_threshold``. Admitted docs' bands become the
    ``bands_delta_NNNNN`` delta, folded by the same compaction as the
    hash state. Signature params are pinned in the manifest on first
    use; a later batch with different params raises instead of
    silently mixing incompatible band spaces.
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

    # batch-scoped caches (batch rows + band table, CC's checkpoint) —
    # released when the scope closes, even when the commit fails
    # mid-batch, so a long stream with foreachBatch retries never
    # accumulates stranded persisted partitions from failed attempts
    with RunScope() as to_release:
        dirs = {"kept": log.delta_name("kept", batch_id)}
        if near_dup:
            params = {
                "num_perm": _ND_NUM_PERM, "bands": _ND_BANDS,
                "shingle_k": _ND_SHINGLE_K, "threshold": jaccard_threshold,
            }
            pinned = log.manifest.get("near_dup_params")
            if pinned is not None and pinned != params:
                raise ValueError(
                    f"near-dup params {params} differ from the stream's pinned "
                    f"{pinned}; band state is not comparable across param changes"
                )
            log.manifest["near_dup_params"] = params
            kept, nd_bands_df = _near_dup_gate(
                kept, log, cfg, jaccard_threshold=jaccard_threshold, to_release=to_release
            )

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
                nd_bands_df.join(
                    committed.select(F.col(cfg.id_col)), cfg.id_col, "left_semi"
                ),
            )
        log.commit(batch_id, dirs)
        log.compact(compact_every)
    return committed.drop(_HASH, "src_batch")


def _near_dup_gate(
    kept: DataFrame,
    log: StateLog,
    cfg: CorpusConfig,
    jaccard_threshold: float,
    to_release: list[DataFrame],
) -> tuple[DataFrame, DataFrame]:
    """One signature pass -> (pruned kept view, this batch's band table).

    Within-batch: transitive near-dup groups keep their min id. Cross-
    batch: any new doc exact-verified >= threshold against an admitted
    doc is dropped (first-seen-wins). Returned bands cover the whole
    batch; the caller semi-joins them to the admitted rows it commits.
    Persisted handles (batch rows, band table) are appended to
    ``to_release`` for the caller to unpersist after its commit.
    """
    from pyspark import StorageLevel

    from cogie_spark.operators.blocking import (
        bands_from_signatures,
        candidate_pairs,
        cross_band_pairs,
        signature_table,
    )
    from cogie_spark.operators.cc import connected_components
    from cogie_spark.operators.dedup import jaccard_verify_pairs

    spark = kept.sparkSession
    idc = cfg.id_col
    # batch-scoped persist: kept feeds signatures, two shingle builds
    # and the final anti-joins; caller unpersists after the commit
    kept = kept.persist()
    to_release.append(kept)
    sigs = signature_table(
        kept, id_col=idc, content_col=cfg.text_col, key_cols=(),
        num_perm=_ND_NUM_PERM, shingle_k=_ND_SHINGLE_K, mode="portable",
    )
    nb = bands_from_signatures(
        sigs, id_col=idc, key_cols=(), bands=_ND_BANDS,
        rows_per_band=_ND_NUM_PERM // _ND_BANDS,
    )
    nb = nb.persist(StorageLevel.MEMORY_AND_DISK)
    to_release.append(nb)

    def _verify(pairs: DataFrame, docs: DataFrame, right_docs: DataFrame | None = None):
        # the ONE near-dup-at-threshold definition minhash_near_duplicates
        # also uses: batch and this streaming gate cannot diverge on
        # what counts as a duplicate
        return jaccard_verify_pairs(
            pairs, docs, idc, cfg.text_col, threshold=jaccard_threshold,
            shingle_k=_ND_SHINGLE_K, right_docs=right_docs,
        )

    # cross-batch admission gate against the admitted band state
    band_paths = log.paths("bands")
    if band_paths:
        cross = cross_band_pairs(nb, spark.read.parquet(*band_paths), id_col=idc, key_cols=())
        old_txt = spark.read.parquet(*log.paths("kept"))
        dropped_new = _verify(cross, kept, old_txt).select(
            F.col("left_id").alias(idc)
        ).distinct()
        kept = kept.join(dropped_new, idc, "left_anti")

    # within-batch transitive prune among the survivors
    self_pairs, _ = candidate_pairs(
        nb, id_col=idc, key_cols=(), max_block_size=_ND_MAX_BLOCK_SIZE,
        release_into=to_release,
    )
    surv_ids = kept.select(F.col(idc).alias("_cid"))
    self_pairs = (
        self_pairs.select("left_id", "right_id")
        .join(surv_ids, F.col("left_id") == F.col("_cid"), "left_semi")
        .join(surv_ids, F.col("right_id") == F.col("_cid"), "left_semi")
    )
    matched = _verify(self_pairs, kept).select("left_id", "right_id")
    # release_into: CC's final localCheckpoint joins the batch-scoped
    # caches released at commit — without it every micro-batch leaks
    # session-lifetime checkpoint RDDs (superseded rounds release
    # inside connected_components itself)
    groups = connected_components(matched, release_into=to_release)
    non_rep = groups.filter(F.col("cluster_id") != F.col("file_id")).select(
        F.col("file_id").alias(idc)
    )
    kept = kept.join(non_rep, idc, "left_anti")
    return kept, nb.select(idc, "band_id", "band_hash")


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
