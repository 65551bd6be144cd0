"""The flagship record-linkage pipeline.

Spark restatement of the reference's /linking query lifecycle
(SURVEY.md §3.1; /root/reference/cogie/interface/interface.py:42-62 →
cogie/toolkit/el/el_toolkit.py:84-152): one lazily-planned DataFrame
lineage of named stages over one ``LinkageConfig`` —

  prededup -> signatures -> candidates (MinHash-LSH blocking, the FAISS-
  retrieval replacement) -> cascade_pairs -> score (the cross-encoder
  replacement) -> cluster (large-star/small-star CC, the transitive-
  alignment stage) -> expand: clusters(file_id, cluster_id)

``run_linkage`` is their one composition; the link stream reuses them.
One ``io.tableio.RunScope`` owns a run's caches and checkpoints; with a
CheckpointManager its keep step commits per-stage snapshots, so any
stage resumes from the last commit.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cogie_spark.functions.text import normalize_text
from cogie_spark.io.tableio import CheckpointManager, RunResult, RunScope
from cogie_spark.operators.blocking import (
    bands_from_signatures,
    candidate_pairs,
    cascade_join,
    signature_table,
)
from cogie_spark.operators.cc import connected_components
from cogie_spark.operators.scoring import corpus_idf, match_edges, score_features


@dataclass
class LinkageConfig:
    """The settings a caller chooses (the dataclass fields) beside the
    constants every run shares (the ``ClassVar`` attributes, read the
    same way: ``cfg.num_perm``). A constant is fixed here, not passed:
    ``LinkageConfig(num_perm=32)`` is a TypeError."""

    id_col: str = "file_id"
    content_col: ClassVar[str] = "content"
    key_cols: ClassVar[tuple[str, ...]] = ("lang",)
    # 16 bands x 4 rows: P(collide) = 1-(1-s^4)^16 — 0.999 at s=0.8,
    # 0.05 at s=0.4 — steep enough that homogeneous corpora (shared
    # boilerplate vocabulary) don't explode the candidate-pair count
    num_perm: ClassVar[int] = 64
    bands: int = 16
    # char-shingle width of the 'portable' family; 'fast' ignores it
    shingle_k: ClassVar[int] = 8
    max_block_size: int = 64
    feature_chars: ClassVar[int] = 1024
    # Jaro-Winkler window: the JW match loop is O(jw_chars^2) per pair
    # in the pandas UDF — 128 chars halves r1's 256 default for ~4x less
    # scorer work; the fixture F1 and DuckDB q34 parity are unaffected
    # (q34 scores short titles, not this window)
    jw_chars: ClassVar[int] = 128
    # token-set Levenshtein window: the JVM DP is O(ts_chars^2) per pair
    # — bounded like jw_chars (the reference's 160-token pair width);
    # 256 measured 3x cheaper than 512 with fixture F1 still 1.0
    ts_chars: ClassVar[int] = 256
    threshold: float = 0.72
    # word-3gram + xxhash64 single-pass signatures; the char-shingle md5
    # 'portable' family is for the oracle-checked queries
    signature_mode: ClassVar[str] = "fast"
    # cheap JVM-side cascade filter: drop pairs whose MinHash-agreement
    # Jaccard estimate is below this before the pandas-UDF scorers
    prefilter_est_jaccard: float = 0.45
    # bits of each MinHash component carried INTO THE PAIR TABLE for
    # the cascade: the low byte via a tinyint cast. The pair table is
    # the biggest relation at scale and ships one signature per side
    # only for the est-Jaccard filter; b-bit compression cuts those
    # bytes 8x and is RECALL-SAFE by construction: the cast preserves
    # equality, distinct components can only collide (p ~= 1/256), so
    # est_8bit >= est_exact per pair and the floor keeps a superset of
    # the exact-cascade pairs. Extra admitted pairs are rejected by the
    # exact scorers downstream.
    cascade_sig_bits: ClassVar[int] = 8
    cc_max_iter: ClassVar[int] = 20
    # convergence-check cadence for CC (operators/cc.py check_every):
    # 1 = fingerprint every round; >1 trades possible extra idempotent
    # rounds for fewer driver aggregation round-trips after round 3
    cc_check_every: int = 1
    # CC small-graph fast path (operators/cc.py): at or below this many
    # distinct edges the components are solved by union-find in ONE
    # task (one job) instead of iterated star rounds — the broadcast-
    # threshold principle applied to the match graph
    cc_local_max_edges: ClassVar[int] = 2_000_000
    weights: tuple[float, float, float] = (0.2, 0.5, 0.3)
    # cap on the IDF broadcast vocabulary (corpus_idf)
    idf_max_terms: ClassVar[int] = 100_000
    # content hash column for the exact prededup (sha2 of content_col
    # when absent)
    sha_col: ClassVar[str] = "sha256"


def prededup(files: DataFrame, cfg: LinkageConfig, scope: RunScope) -> tuple[DataFrame, DataFrame]:
    """Exact dedup (SURVEY.md §2.7 U2) -> (reps, file2rep): one
    representative row per distinct content, and (id_col, _rep_id) for
    EVERY input row. The expensive stages run on reps only: identical
    boilerplate otherwise forms the hottest LSH blocks, and at 10^12
    files the quadratic pair step must only ever see distinct contents.
    """
    # the input is scanned by the prededup groupBy and (via file2rep)
    # the final expansion — persist once (spills to disk at scale).
    # NOTE (round-4 measurement): a broadcast-semi-join prededup that
    # avoided shuffling content entirely was built and A/B-measured at
    # 52s SLOWER @8 and 32s SLOWER @32 than this min_by form on the
    # 200k-group fixture — the single wide shuffle scales fine here,
    # while the extra parquet scan + broadcast build are pure overhead.
    all_files = scope.persist(files)
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
    file2rep = scope.persist(
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
    return scope.persist(reps_rows.select("_r.*")), file2rep


def signatures(rows: DataFrame, cfg: LinkageConfig) -> DataFrame:
    """(id, *key_cols, sig) under the config's MinHash family."""
    return signature_table(
        rows, id_col=cfg.id_col, content_col=cfg.content_col, key_cols=cfg.key_cols,
        num_perm=cfg.num_perm, mode=cfg.signature_mode,
    )


def bands(sigs: DataFrame, cfg: LinkageConfig) -> DataFrame:
    """(id, *key_cols, band_id, band_hash) under the config's banding."""
    return bands_from_signatures(
        sigs, id_col=cfg.id_col, key_cols=cfg.key_cols, bands=cfg.bands,
        rows_per_band=cfg.num_perm // cfg.bands,
    )


def candidates(
    sigs: DataFrame, cfg: LinkageConfig, scope: RunScope
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """LSH bands -> bounded candidate pairs. Returns (blocks, pairs,
    dropped_blocks, blocking_stats); the stats ride on the mandatory
    size-precheck job: the max block size (salting decision), the
    block rows and the dropped-block count (logged — no silent caps)."""
    blocks = bands(sigs, cfg)
    stats: dict = {}
    pairs, dropped = candidate_pairs(
        blocks, id_col=cfg.id_col, key_cols=cfg.key_cols,
        max_block_size=cfg.max_block_size, release_into=scope,
        stats_into=stats,
    )
    return blocks, pairs, dropped, stats


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
    # components never need to reach the pair table — see LinkageConfig.
    # Each component keeps its low byte, shifted into tinyint range
    # (ANSI-safe: a bare tinyint cast of a 64-bit value throws
    # CAST_OVERFLOW under Spark 4 ANSI).
    cascade_sig = F.expr("transform(sig, x -> cast((x & 255) - 128 as tinyint))").alias("sig")
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


def score(
    pairs: DataFrame,
    cfg: LinkageConfig,
    scope: RunScope,
    idf: dict[str, float],
    partitions: int | None = 0,
) -> tuple[DataFrame, DataFrame]:
    """Score the cascade's pairs and threshold them: (scored, edges).

    ``idf`` (``corpus_idf``'s dict) is shipped as a Broadcast the scope
    releases, fetched once per executor instead of re-shipped in every
    task binary. ``scored`` goes through the scope's keep step, so
    edges, CC seed and caller actions never re-run the scorers.

    ``partitions`` is score_features'. The batch run scores in place
    (0): its pair table arrives through the cascade joins, whose
    post-shuffle width AQE sizes with parallelismFirst (>= cores, which
    the r5-era partition probe confirmed every run at the cost of an
    extra action). The stream passes None (cores*2 spread): micro-batch
    pair tables are narrow, and AQE would coalesce them onto one core.
    """
    terms = pairs.sparkSession.sparkContext.broadcast(idf)
    scope.append(terms)
    scored = scope.keep("scored", score_features(
        pairs, jw_chars=cfg.jw_chars, ts_chars=cfg.ts_chars, weights=cfg.weights,
        idf=terms, partitions=partitions,
    ))
    scope.log_metric("scoring", "pairs_scored", scored.count)
    return scored, match_edges(scored, threshold=cfg.threshold)


def cluster(edges: DataFrame, cfg: LinkageConfig, scope: RunScope) -> DataFrame:
    """Connected components of the match edges: (id_col, cluster_id) for
    every node of an edge. CC's final localCheckpoint goes to the
    scope's checkpoints — the clusters derive from it."""
    comp = connected_components(
        edges, max_iter=cfg.cc_max_iter, checkpoint=scope.checkpoint,
        check_every=cfg.cc_check_every, local_max_edges=cfg.cc_local_max_edges,
        release_into=scope.checkpoints,
    )
    # connected_components emits (file_id, cluster_id); align its node
    # column with cfg.id_col so custom id columns join correctly
    if cfg.id_col != "file_id":
        comp = comp.withColumnRenamed("file_id", cfg.id_col)
    return comp


def expand(comp: DataFrame, file2rep: DataFrame, cfg: LinkageConfig, scope: RunScope) -> DataFrame:
    """(file_id, cluster_id) for every input row: file2rep maps EVERY row
    to its representative, so one left join against the component table
    suffices — members inherit coalesce(rep's component min, rep id),
    singletons map to themselves. (r6: the former two-join form joined
    the rep universe twice for the same rows.)"""
    comp_r = comp.select(F.col(cfg.id_col).alias("_rep_id"), F.col("cluster_id"))
    clusters = file2rep.join(comp_r, "_rep_id", "left").select(
        F.col(cfg.id_col).alias("file_id"),
        F.coalesce("cluster_id", F.col("_rep_id")).alias("cluster_id"),
    )
    return scope.keep("clusters", clusters, cache=False)


def run_linkage(
    files: DataFrame,
    cfg: LinkageConfig | None = None,
    checkpoint: CheckpointManager | None = None,
) -> RunResult:
    """Run the stages over ``files``; returns their outputs in a
    ``RunResult`` — consume them inside ``with run_linkage(...) as
    out:`` (or call ``out.release()`` after): they are lazy over the
    run's caches and CC's final localCheckpoint. With ``checkpoint``,
    pairs, scored, CC rounds and clusters are committed snapshots.

    Keys: blocks, pairs, dropped_blocks, blocking_stats (candidate_pairs'
    ``stats_into`` record, free from the size precheck), scored, edges,
    clusters, file2rep. ``clusters`` covers EVERY input file — files not
    in any match edge become singletons (cluster_id = own file_id), as
    the reference always emits a link result per mention
    (el_toolkit.py:144-151, 'unk' on miss). ``file2rep`` (id_col,
    _rep_id) lets metrics.blocking_quality grade the BLOCKING stage in
    representative space: byte-identical true pairs never enter it.
    """
    scope = RunScope(checkpoint)
    try:
        return _link(files, cfg or LinkageConfig(), scope)
    except BaseException:
        scope.release()
        raise


def _link(
    files: DataFrame, cfg: LinkageConfig, scope: RunScope, batch_sigs: DataFrame | None = None
) -> RunResult:
    """The one composition of the stages, caching into ``scope``.
    ``batch_sigs``: signatures already computed for a superset of
    ``files`` (the link stream's batch), semi-joined to the reps."""
    reps, file2rep = prededup(files, cfg, scope)
    sigs = scope.persist(
        signatures(reps, cfg)
        if batch_sigs is None
        else batch_sigs.join(reps.select(cfg.id_col), cfg.id_col, "left_semi")
    )
    blocks, pairs, dropped, stats = candidates(sigs, cfg, scope)
    # every rep has one signature, so one row per band: the precheck
    # already counted the reps
    n_reps = stats["n_block_rows"] // cfg.bands
    idf = corpus_idf(reps, cfg.content_col, cfg.idf_max_terms, n_docs=n_reps)
    # downstream stages (scoring, CC seed) and caller actions each
    # reference the pair table — never recompute the self-join
    pairs = scope.keep("pairs", cascade_pairs(pairs, sigs, reps, cfg, release_into=scope))
    scope.log_metric("blocking", "dropped_blocks", lambda: stats["n_dropped_blocks"])
    scored, edges = score(pairs, cfg, scope, idf)
    clusters = expand(cluster(edges, cfg, scope), file2rep, cfg, scope)
    return RunResult(
        scope, blocks=blocks, pairs=pairs, dropped_blocks=dropped, blocking_stats=stats,
        scored=scored, edges=edges, clusters=clusters, file2rep=file2rep,
    )


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
