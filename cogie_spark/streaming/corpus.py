"""Streaming corpus ingestion: the composed cleaning gate per
micro-batch, with cross-batch exact dedup against accumulated state.

A crawl arrives continuously; each micro-batch runs the SAME one-scan
tag+gate+dedup plan as the batch job (plans/corpus.py — no second
implementation to drift), then drops any document whose content sha256
was already admitted by an earlier batch (first-seen-wins, the
micro-batch analogue of the batch window-min). The reference has no
streaming surface at all (its toolkits are one-shot passes,
/root/reference/cogie/toolkit/tokenize/tokenize_toolkit.py) — this is
engine-native, built on the same manifest/state discipline as
streaming/incremental.py:

- state lives under one TableIO base: per-batch ``kept_<id>`` output
  dirs (the durable output log) and ``hashes_<id>`` dedup deltas, with
  a JSON manifest as the single commit point (tableio.publish_json —
  Hadoop FS, object-store semantics documented on fsio.write_text_atomic);
- commits are IDEMPOTENT under foreachBatch's at-least-once contract: a
  retried batch_id short-circuits to its committed kept rows instead of
  appending its delta twice;
- every ``compact_every`` batches the hash deltas fold into one base
  generation (crash between write and publish leaves the old manifest
  readable); kept dirs are never folded — they are the stream's output,
  retention is the consumer's policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cogie_spark.io import fsio
from cogie_spark.io.tableio import TableIO, publish_json, read_json
from cogie_spark.plans.corpus import CorpusConfig, kept_from_docs

_MANIFEST = "corpus_manifest.json"
_HASH = "sha256"


def _hash_paths(manifest: dict) -> list[str]:
    names = []
    if manifest.get("base"):
        names.append(manifest["base"]["hashes"])
    names += [e["hashes"] for e in manifest["batches"] if e.get("hashes")]
    return names


def _band_paths(manifest: dict) -> list[str]:
    names = []
    if manifest.get("base") and manifest["base"].get("bands"):
        names.append(manifest["base"]["bands"])
    names += [e["bands"] for e in manifest["batches"] if e.get("bands")]
    return names


def _kept_paths(manifest: dict) -> list[str]:
    # kept dirs are the durable output log — base never folds them
    return [e["kept"] for e in manifest["batches"] if e.get("kept")]


def _compact_hashes(spark: SparkSession, state: TableIO, manifest: dict) -> dict:
    """Fold base + deltas into one new-generation hash table (and band
    table when the stream runs with near-dup admission), publish, then
    best-effort delete the superseded dirs. src_batch provenance (min
    batch that admitted the hash) survives the fold."""
    gen = int(manifest.get("base", {}).get("gen", -1) if manifest.get("base") else -1) + 1
    folded = (
        spark.read.parquet(*[state.path(n) for n in _hash_paths(manifest)])
        .groupBy(_HASH)
        .agg(F.min("src_batch").alias("src_batch"))
    )
    base_name = f"hash_base_{gen}"
    state.write(base_name, folded)
    base = {"hashes": base_name, "gen": gen}
    old_names = _hash_paths(manifest)
    band_names = _band_paths(manifest)
    if band_names:
        bands_base = f"bands_base_{gen}"
        state.write(bands_base, spark.read.parquet(*[state.path(n) for n in band_names]))
        base["bands"] = bands_base
        old_names += band_names
    new_manifest = {
        "batches": [
            {k: v for k, v in e.items() if k not in ("hashes", "bands")}
            for e in manifest["batches"]
        ],
        "base": base,
        "compacted_through": max(e["batch_id"] for e in manifest["batches"]),
    }
    if manifest.get("near_dup_params"):
        new_manifest["near_dup_params"] = manifest["near_dup_params"]
    publish_json(spark, state.path(_MANIFEST), new_manifest)
    for n in old_names:  # superseded only after the publish succeeded
        fsio.delete(spark, state.path(n))
    return new_manifest


def incremental_clean_batch(
    batch: DataFrame,
    state: TableIO,
    cfg: CorpusConfig | None = None,
    batch_id: int = 0,
    compact_every: int = 8,
    near_dup: bool = False,
    jaccard_threshold: float = 0.7,
    nd_num_perm: int = 32,
    nd_bands: int = 8,
    nd_shingle_k: int = 8,
    nd_max_block_size: int = 256,
) -> DataFrame:
    """Clean one micro-batch and admit only first-seen content.

    Returns THIS batch's kept rows (post-gate, batch-local deduped,
    cross-batch deduped, redacted per cfg). Committed state: the kept
    rows under ``kept_<batch_id>`` and the admitted hashes under
    ``hashes_<batch_id>``, both recorded in the manifest atomically.

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
    ``bands_<batch_id>`` delta, folded by the same compaction as the
    hash state. Signature params are pinned in the manifest on first
    use; a later batch with different params raises instead of
    silently mixing incompatible band spaces.
    """
    cfg = cfg or CorpusConfig()
    spark = batch.sparkSession
    manifest = read_json(spark, state.path(_MANIFEST)) or {"batches": [], "base": None}

    # idempotent at-least-once: a retried batch_id returns its committed
    # kept rows; appending the delta again would double-admit content
    for entry in manifest["batches"]:
        if int(entry["batch_id"]) == batch_id:
            # same schema as the fresh-commit return below
            return state.read(entry["kept"]).drop(_HASH, "src_batch")

    # dedup-first kept builder: same rows as kept_view over the tagged
    # lineage (unit-tested equivalence), but the regex gates evaluate
    # post-shuffle across the cluster instead of inside the batch's
    # (often narrow) scan stage — plans/corpus.kept_from_docs
    kept = kept_from_docs(batch, cfg, hash_col=_HASH)

    hash_names = _hash_paths(manifest)
    if hash_names:
        seen = spark.read.parquet(*[state.path(n) for n in hash_names])
        # broadcast NOT forced: state grows unbounded; the planner picks
        # the strategy from measured sizes (AQE) — at 100 TB this is a
        # shuffled left-anti on the 64-hex key, the partition-count knob
        kept = kept.join(seen.select(_HASH), _HASH, "left_anti")

    bands_name = None
    # batch-scoped caches (batch rows + band table) — released in the
    # finally below even when the commit fails mid-batch, so a long
    # stream with foreachBatch retries never accumulates stranded
    # persisted partitions from failed attempts
    to_release: list[DataFrame] = []
    try:
        if near_dup:
            params = {
                "num_perm": nd_num_perm, "bands": nd_bands,
                "shingle_k": nd_shingle_k, "threshold": jaccard_threshold,
            }
            pinned = manifest.get("near_dup_params")
            if pinned is not None and pinned != params:
                raise ValueError(
                    f"near-dup params {params} differ from the stream's pinned "
                    f"{pinned}; band state is not comparable across param changes"
                )
            manifest["near_dup_params"] = params
            kept, nd_bands_df = _near_dup_gate(
                kept, state, manifest, cfg,
                jaccard_threshold=jaccard_threshold, num_perm=nd_num_perm,
                bands=nd_bands, shingle_k=nd_shingle_k,
                max_block_size=nd_max_block_size, to_release=to_release,
            )
            bands_name = f"bands_{batch_id}"

        kept_name = f"kept_{batch_id}"
        state.write(kept_name, kept.withColumn("src_batch", F.lit(batch_id)))
        committed = state.read(kept_name)
        state.write(
            f"hashes_{batch_id}",
            committed.select(_HASH, "src_batch").dropDuplicates([_HASH]),
        )
        entry = {"batch_id": batch_id, "kept": kept_name, "hashes": f"hashes_{batch_id}"}
        if bands_name is not None:
            # bands of ADMITTED rows only — read back off the committed
            # bytes so the band state matches the kept output exactly even
            # if the upstream plan is nondeterministic
            state.write(
                bands_name,
                nd_bands_df.join(
                    committed.select(F.col(cfg.id_col)), cfg.id_col, "left_semi"
                ),
            )
            entry["bands"] = bands_name
        manifest["batches"].append(entry)
        publish_json(spark, state.path(_MANIFEST), manifest)

        n_deltas = sum(1 for e in manifest["batches"] if e.get("hashes"))
        if compact_every and n_deltas >= compact_every:
            _compact_hashes(spark, state, manifest)
    finally:
        for df in to_release:
            df.unpersist()
    return committed.drop(_HASH, "src_batch")


def _near_dup_gate(
    kept: DataFrame,
    state: TableIO,
    manifest: dict,
    cfg: CorpusConfig,
    jaccard_threshold: float,
    num_perm: int,
    bands: int,
    shingle_k: int,
    max_block_size: int,
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
    from cogie_spark.functions.text import char_shingles
    from cogie_spark.operators.blocking import (
        bands_from_signatures,
        candidate_pairs,
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
        num_perm=num_perm, shingle_k=shingle_k, mode="portable",
    )
    nb = bands_from_signatures(
        sigs, id_col=idc, key_cols=(), bands=bands, rows_per_band=num_perm // bands
    )
    from pyspark import StorageLevel

    nb = nb.persist(StorageLevel.MEMORY_AND_DISK)
    to_release.append(nb)

    def _shingles(src: DataFrame, ids: DataFrame, idcol: str) -> DataFrame:
        # shingle arrays are interpreted per-row expressions — build
        # them only for rows that appear in a candidate pair
        return src.join(ids, F.col(idcol) == F.col("_cid"), "left_semi").select(
            F.col(idcol).alias("_sid"),
            char_shingles(cfg.text_col, k=shingle_k).alias("_sh"),
        )

    def _verify(pairs: DataFrame, left_sh: DataFrame, right_sh: DataFrame) -> DataFrame:
        # the ONE shared near-dup-at-threshold definition — batch
        # (dedup.ngram_jaccard_pairs banded) and this streaming gate
        # cannot diverge on what counts as a duplicate
        return jaccard_verify_pairs(
            pairs, left_sh, right_sh,
            threshold=jaccard_threshold, id_col="_sid", set_col="_sh",
        ).select("left_id", "right_id")

    # cross-batch admission gate against the admitted band state
    band_names = _band_paths(manifest)
    if band_names:
        ob = spark.read.parquet(*[state.path(n) for n in band_names])
        cross = (
            nb.alias("n")
            .join(
                ob.alias("o"),
                (F.col("n.band_id") == F.col("o.band_id"))
                & (F.col("n.band_hash") == F.col("o.band_hash")),
            )
            .select(
                F.col(f"n.{idc}").alias("left_id"), F.col(f"o.{idc}").alias("right_id")
            )
            .distinct()
        )
        old_txt = spark.read.parquet(*[state.path(n) for n in _kept_paths(manifest)])
        new_sh = _shingles(kept, cross.select(F.col("left_id").alias("_cid")).distinct(), idc)
        old_sh = _shingles(
            old_txt, cross.select(F.col("right_id").alias("_cid")).distinct(), idc
        )
        dropped_new = _verify(cross, new_sh, old_sh).select(
            F.col("left_id").alias(idc)
        ).distinct()
        kept = kept.join(dropped_new, idc, "left_anti")

    # within-batch transitive prune among the survivors
    self_pairs, _ = candidate_pairs(
        nb, id_col=idc, key_cols=(), max_block_size=max_block_size,
        release_into=to_release,
    )
    surv_ids = kept.select(F.col(idc).alias("_cid"))
    self_pairs = (
        self_pairs.select("left_id", "right_id")
        .join(surv_ids, F.col("left_id") == F.col("_cid"), "left_semi")
        .join(surv_ids, F.col("right_id") == F.col("_cid"), "left_semi")
    )
    batch_sh = _shingles(
        kept,
        self_pairs.select(F.col("left_id").alias("_cid"))
        .unionAll(self_pairs.select(F.col("right_id").alias("_cid")))
        .distinct(),
        idc,
    )
    matched = _verify(self_pairs, batch_sh, batch_sh)
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
