"""The flagship record-linkage pipeline.

Spark restatement of the reference's /linking query lifecycle
(SURVEY.md §3.1; /root/reference/cogie/interface/interface.py:42-62 →
cogie/toolkit/el/el_toolkit.py:84-152): one lazily-planned DataFrame
lineage —

  code_files
    -> normalize + shingle                 (functions/text.py, JVM exprs)
    -> MinHash-LSH blocking                (operators/blocking.py; the
                                            FAISS-retrieval replacement)
    -> bounded candidate-pair table        (skew-capped self-join)
    -> vectorized pair scoring             (operators/scoring.py; the
                                            cross-encoder replacement)
    -> threshold -> match edges
    -> large-star/small-star clustering    (operators/cc.py; the
                                            transitive-alignment stage)
    -> clusters(file_id, cluster_id)

with per-stage committed snapshots + metrics (io/tableio.py) so any stage
resumes from the last commit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cogie_spark.functions.text import normalize_text
from cogie_spark.io.tableio import CheckpointManager
from cogie_spark.operators.blocking import (
    bands_from_signatures,
    candidate_pairs,
    cascade_join,
    signature_table,
)
from cogie_spark.operators.cc import connected_components
from cogie_spark.operators.scoring import match_edges


@dataclass
class LinkageConfig:
    id_col: str = "file_id"
    content_col: str = "content"
    key_cols: tuple[str, ...] = ("lang",)
    # 16 bands x 4 rows: P(collide) = 1-(1-s^4)^16 — 0.999 at s=0.8,
    # 0.05 at s=0.4 — steep enough that homogeneous corpora (shared
    # boilerplate vocabulary) don't explode the candidate-pair count
    num_perm: int = 64
    bands: int = 16
    shingle_k: int = 8
    max_block_size: int = 64
    feature_chars: int = 1024
    # Jaro-Winkler window: the JW match loop is O(jw_chars^2) per pair
    # in the pandas UDF — 128 chars halves r1's 256 default for ~4x less
    # scorer work; the fixture F1 and DuckDB q34 parity are unaffected
    # (q34 scores short titles, not this window)
    jw_chars: int = 128
    # token-set Levenshtein window: the JVM DP is O(ts_chars^2) per pair
    # — bounded like jw_chars (the reference's 160-token pair width);
    # 256 measured 3x cheaper than 512 with fixture F1 still 1.0
    ts_chars: int = 256
    threshold: float = 0.72
    # 'fast' = word-3gram + xxhash64 single-pass signatures (pipeline);
    # 'portable' = char-shingle md5 family (oracle-checkable)
    signature_mode: str = "fast"
    # cheap JVM-side cascade filter: drop pairs whose MinHash-agreement
    # Jaccard estimate is below this before the pandas-UDF scorers
    prefilter_est_jaccard: float = 0.45
    # bits of each MinHash component carried INTO THE PAIR TABLE for
    # the cascade (8 = low byte via tinyint cast, 64 = full values).
    # The pair table is the biggest relation at scale and ships one
    # signature per side only for the est-Jaccard filter; b-bit
    # compression cuts those bytes 8x and is RECALL-SAFE by
    # construction: the cast preserves equality, distinct components
    # can only collide (p ~= 1/256), so est_8bit >= est_exact per pair
    # and the floor keeps a superset of the exact-cascade pairs. Extra
    # admitted pairs are rejected by the exact scorers downstream
    # (clusters verified identical at 8 vs 64 on the fixtures).
    cascade_sig_bits: int = 8
    cc_max_iter: int = 20
    # convergence-check cadence for CC (operators/cc.py check_every):
    # 1 = fingerprint every round; >1 trades possible extra idempotent
    # rounds for fewer driver aggregation round-trips after round 3
    cc_check_every: int = 1
    # CC small-graph fast path (operators/cc.py): at or below this many
    # distinct edges the components are solved by union-find in ONE
    # task (one job) instead of iterated star rounds — the broadcast-
    # threshold principle applied to the match graph. 0 disables.
    cc_local_max_edges: int = 2_000_000
    weights: tuple[float, float, float] = (0.2, 0.5, 0.3)
    # cap on the IDF broadcast vocabulary (corpus_idf); 0 disables the
    # tf-idf scorer's corpus weighting (plain TF cosine)
    idf_max_terms: int = 100_000
    # content hash column for the exact prededup (sha2 of content_col
    # when absent)
    sha_col: str = "sha256"


def cascade_pairs(
    pairs: DataFrame,
    sigs: DataFrame,
    files: DataFrame,
    cfg: LinkageConfig,
    release_into: list,
) -> DataFrame:
    """Build linkage's cascade side table — the b-bit signature plus the
    feature window per id — and run ``blocking.cascade_join`` over it at
    ``cfg.prefilter_est_jaccard``. ``sigs`` carries (id, sig) and
    ``files`` (id, content) for every id in ``pairs``; the output adds
    ``est_jaccard`` and the ``_lf``/``_rf`` features that score_features
    reads. The side table is persisted into ``release_into``.
    run_linkage and the stream's cross-batch scoring both go through
    here.

    Cascade + feature attach are FUSED: the pair table is the biggest
    relation at scale, so it is shuffled exactly twice (once per side)
    carrying both the MinHash signature (for the est-Jaccard cascade,
    pure JVM — the reference's retrieve-then-rerank split, SURVEY.md
    §4) and the bounded feature window (for the scorers). The split
    form joined the pair table four times. Trade-off: fusion carries
    the feature bytes for pairs the cascade later discards — a win
    while the cascade keep-ratio is high (measured 0.96 on the code
    fixture: banding already implies est-Jaccard ≈ threshold), a loss
    on corpora where banding is much looser than the prefilter.
    """
    # b-bit cascade signature (cascade_sig_bits): the full 64-bit
    # components never need to reach the pair table — see LinkageConfig
    # low byte, shifted into tinyint range (ANSI-safe: a bare tinyint
    # cast of a 64-bit value throws CAST_OVERFLOW under Spark 4 ANSI)
    cascade_sig = (
        F.expr("transform(sig, x -> cast((x & 255) - 128 as tinyint))")
        if cfg.cascade_sig_bits == 8
        else F.col("sig")
    ).alias("sig")
    side = sigs.select(F.col(cfg.id_col).alias("_sid"), cascade_sig).join(
        files.select(
            F.col(cfg.id_col).alias("_sid"),
            F.substring(
                normalize_text(cfg.content_col), 1, cfg.feature_chars
            ).alias("_feat"),
        ),
        "_sid",
    )
    side = side.persist(StorageLevel.MEMORY_AND_DISK)
    release_into.append(side)
    return cascade_join(
        pairs, side, cfg.num_perm, cfg.prefilter_est_jaccard, payload=("_feat", "_lf", "_rf")
    )


def run_linkage(
    files: DataFrame,
    cfg: LinkageConfig | None = None,
    checkpoint: CheckpointManager | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns its materializable stage outputs.

    Keys: blocks, pairs, dropped_blocks, scored, edges, clusters.
    ``clusters`` covers EVERY input file — files not in any match edge
    become singleton clusters (cluster_id = own file_id), matching the
    reference's behavior of always emitting a link result per mention
    (el_toolkit.py:144-151, 'unk' on miss).
    """
    cfg = cfg or LinkageConfig()

    # every persist in this run is tracked so callers that invoke the
    # pipeline repeatedly (streaming micro-batches) can release the
    # cached partitions at batch end via out["_persisted"] — otherwise
    # a long-running stream accumulates every past batch's cache
    persisted: list[DataFrame] = []
    # localCheckpoint handles (CC's final round) are tracked SEPARATELY:
    # releasing a checkpoint deletes its only copy (lineage truncated),
    # so a caller that releases and then re-runs an action on a derived
    # frame crashes instead of recomputing. _persisted keeps the old
    # recompute-safe contract; _checkpoints is release-after-durable-
    # commit ONLY.
    checkpoints: list = []

    def _persist(df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(df)
        return df

    # the input is scanned by the prededup groupBy and (via file2rep)
    # the final expansion — persist once (spills to disk at scale).
    # NOTE (round-4 measurement): a broadcast-semi-join prededup that
    # avoided shuffling content entirely was built and A/B-measured at
    # 52s SLOWER @8 and 32s SLOWER @32 than this min_by form on the
    # 200k-group fixture — the single wide shuffle scales fine here,
    # while the extra parquet scan + broadcast build are pure overhead.
    all_files = _persist(files)

    # exact dedup (SURVEY.md §2.7 U2): one representative per
    # distinct content; the expensive pipeline runs on reps only.
    # Identical boilerplate otherwise forms the hottest LSH blocks, and
    # at 10^12 files the quadratic pair step must only ever see
    # distinct contents.
    # min_by over the full row struct keeps this to ONE shuffle of
    # the input (the groupBy) — the previous groupBy-then-join form
    # shuffled the full table a second time for the join-back.
    sha = cfg.sha_col if cfg.sha_col in all_files.columns else None
    sha_expr = F.col(sha) if sha else F.sha2(F.col(cfg.content_col), 256)
    keyed = all_files.withColumn("_sha", sha_expr)
    data_cols = [c for c in keyed.columns if c != "_sha"]
    reps_rows = keyed.groupBy("_sha").agg(
        F.expr(
            f"min_by(struct({', '.join(data_cols)}), {cfg.id_col})"
        ).alias("_r"),
        F.min(cfg.id_col).alias("_rep_id"),
    )
    file2rep = _persist(
        keyed.select(cfg.id_col, "_sha")
        .join(reps_rows.select("_sha", "_rep_id"), "_sha")
        .select(cfg.id_col, F.col("_rep_id"))
    )
    # NOTE (round-4 A/B): replacing this persist with a lazy
    # localCheckpoint — to truncate lineage and cut the multi-second
    # Catalyst re-planning of the scan→min_by tree per downstream
    # query — measured 12 s SLOWER at bench scale: the RDD-row cache
    # loses the InMemoryRelation's columnar compression and column
    # pruning, which cost more than the planning it saved.
    files = _persist(reps_rows.select("_r.*"))

    sigs = _persist(
        signature_table(
            files,
            id_col=cfg.id_col,
            content_col=cfg.content_col,
            key_cols=cfg.key_cols,
            num_perm=cfg.num_perm,
            shingle_k=cfg.shingle_k,
            mode=cfg.signature_mode,
        )
    )
    blocks = bands_from_signatures(
        sigs,
        id_col=cfg.id_col,
        key_cols=cfg.key_cols,
        bands=cfg.bands,
        rows_per_band=cfg.num_perm // cfg.bands,
    )
    # IDF branch overlap (guide §2.6): corpus_idf only needs the reps
    # cache and its dict is not consumed until the scorer stage RUNS, so
    # its two bounded actions (count + vocab top-k collect) run in a
    # driver thread CONCURRENTLY with the blocking size-precheck's
    # signature computation — the scheduler back-fills the precheck's
    # small stages and gaps with the idf jobs instead of serializing
    # ~2 s of wall after them. Joined (with exception propagation)
    # right before the scorer is built. Concurrent first-materialization
    # of the shared reps cache is safe: worst case both threads compute
    # a partition and one cache write wins.
    idf_future = None
    if cfg.idf_max_terms:
        from concurrent.futures import ThreadPoolExecutor

        from cogie_spark.operators.scoring import corpus_idf as _cidf

        _idf_pool = ThreadPoolExecutor(max_workers=1)
        idf_future = _idf_pool.submit(
            _cidf, files, content_col=cfg.content_col, max_terms=cfg.idf_max_terms
        )
        _idf_pool.shutdown(wait=False)

    # blocking_stats rides on the mandatory size-precheck job: the max
    # block size (salting decision) and the dropped-block count
    # (logged — no-silent-caps)
    blocking_stats: dict = {}
    pairs, dropped = candidate_pairs(
        blocks, id_col=cfg.id_col, key_cols=cfg.key_cols,
        max_block_size=cfg.max_block_size, release_into=persisted,
        stats_into=blocking_stats,
    )

    pairs = cascade_pairs(pairs, sigs, files, cfg, release_into=persisted)

    if checkpoint is not None:
        pairs = checkpoint.commit("pairs", pairs)
        checkpoint.log_metric(
            "blocking", 0, "dropped_blocks", float(blocking_stats["n_dropped_blocks"])
        )
    else:
        # downstream stages (scoring, CC seed) and caller actions each
        # reference the pair table — never recompute the self-join
        pairs = _persist(pairs)

    from cogie_spark.operators.scoring import score_features

    idf = None
    if idf_future is not None:
        # proper Broadcast: fetched once per executor instead of being
        # re-shipped inside every stage's task binary. .result() joins
        # the overlapped idf thread and re-raises any failure here.
        idf = files.sparkSession.sparkContext.broadcast(idf_future.result())
    # score in place (partitions=0): the pair table reaches here through
    # the cascade/feature joins, whose post-shuffle width AQE sizes with
    # parallelismFirst (>= min(cores, bytes/minPartitionSize)); the
    # r5-era pairs.rdd partition probe confirmed ">= cores" every run
    # while costing one full extra action's worth of jobs + planning.
    # Callers with pathologically narrow pair tables keep the public
    # score_features(partitions=None) repartition default.
    scored = score_features(
        pairs,
        jw_chars=cfg.jw_chars,
        ts_chars=cfg.ts_chars,
        weights=cfg.weights,
        idf=idf,
        partitions=0,
    )
    if checkpoint is not None:
        scored = checkpoint.commit("scored", scored)
        checkpoint.log_metric("scoring", 0, "pairs_scored", float(scored.count()))
    else:
        scored = _persist(scored)

    edges = match_edges(scored, threshold=cfg.threshold)
    comp = connected_components(
        edges,
        max_iter=cfg.cc_max_iter,
        checkpoint=checkpoint,
        check_every=cfg.cc_check_every,
        local_max_edges=cfg.cc_local_max_edges,
        # CC's final localCheckpoint goes into _checkpoints (NOT
        # _persisted) so loop-style callers release it per batch
        # without changing _persisted's recompute-safe contract —
        # out['clusters']/out['edges'] derive from this checkpoint and
        # become unusable once it is released
        release_into=checkpoints,
    )
    # connected_components emits (file_id, cluster_id); align its node
    # column with cfg.id_col so custom id columns join correctly
    if cfg.id_col != "file_id":
        comp = comp.withColumnRenamed("file_id", cfg.id_col)

    # every file gets a cluster: singletons map to themselves
    # file2rep already maps EVERY file to its representative, so
    # one left join against the component table suffices — members
    # inherit coalesce(rep's component min, rep id). The former
    # two-join form (files ⋈ comp to build rep_clusters, then
    # file2rep ⋈ rep_clusters) joined the rep universe twice for
    # the same rows (r6: one join/shuffle stage removed, output
    # identical by construction — comp's nodes are a subset of the
    # reps file2rep maps onto).
    comp_r = comp.select(
        F.col(cfg.id_col).alias("_rep_id"), F.col("cluster_id")
    )
    clusters = file2rep.join(comp_r, "_rep_id", "left").select(
        F.col(cfg.id_col).alias("file_id"),
        F.coalesce("cluster_id", F.col("_rep_id")).alias("cluster_id"),
    )
    if checkpoint is not None:
        clusters = checkpoint.commit("clusters", clusters)

    return {
        "blocks": blocks,
        "pairs": pairs,
        "dropped_blocks": dropped,
        "scored": scored,
        "edges": edges,
        "clusters": clusters,
        # exact-prededup lineage: (id_col, _rep_id) — needed to evaluate
        # the BLOCKING stage (metrics.blocking_quality) in representative
        # space, since true pairs between byte-identical files never
        # enter the pair table
        "file2rep": file2rep,
        # cached inputs of THIS run; callers that loop (streaming) must
        # unpersist these once the run's outputs are materialized —
        # recompute-safe: a later action on a returned frame is merely
        # slow, never wrong
        "_persisted": persisted,
        # localCheckpoint handles (CC final round): release ONLY after
        # every derived output (clusters/edges) is durably committed —
        # a released checkpoint CANNOT recompute and further actions
        # on frames derived from it fail
        "_checkpoints": checkpoints,
    }


def predicted_pairs_from_clusters(clusters: DataFrame) -> DataFrame:
    """Expand cluster assignments back to predicted matched pairs
    (for pairwise-F1 evaluation; within-cluster pairs, left < right).

    Safe at scale ONLY because blocking caps cluster sizes; the join is
    on cluster_id, skew-handled by AQE.
    """
    a = clusters.alias("a")
    b = clusters.alias("b")
    return (
        a.join(b, (F.col("a.cluster_id") == F.col("b.cluster_id")) & (F.col("a.file_id") < F.col("b.file_id")))
        .select(F.col("a.file_id").alias("left_id"), F.col("b.file_id").alias("right_id"))
    )
