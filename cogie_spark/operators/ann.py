"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (the reference's exact
DenseFlatIndexer, /root/reference/cogie/models/el/blink.py:73-93); the
scale path is random-hyperplane LSH sign-bucketing (the role of HNSW at
blink.py:97-167).

The probe side is expected to be small (a query batch) — it is
broadcast; the corpus side streams. Top-k per probe is a window
row_number, the Spark restatement of scores.topk
(/root/reference/cogie/toolkit/el/el_toolkit.py:528).

Plane-weight discipline (the 100 TB detail): hyperplane weights depend
only on (projection, dimension), so they are computed ONCE at
plan-build time on the driver (same md5 family as base_hash28 —
deterministic, no stored model) and folded into the expression tree as
±element_at terms. The earlier form recomputed an md5 per row × per
dim × per projection inside an interpreted aggregate() — identical
output, orders of magnitude more work.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from cogie_spark.functions.similarity import cosine_native


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast probes x corpus, window top-k.

    Output: (probe_id, vec_id, cosine, rank). Deterministic tie-break on
    vec_id. Cost is |probes| * |corpus| vector ops, all JVM-side
    (zip_with/aggregate).

    Pass ``dim`` when known: omitting it costs one bounded ``first()``
    probe job at plan-build time (ann.infer_dim).
    """
    dim = dim or infer_dim(corpus, vec_col)
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).cast("array<double>").alias("_pv")
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .withColumn("cosine", F.round(cosine_native(F.col("_pv"), F.col("_cv"), dim=dim), 6))
        .drop("_pv", "_cv")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cosine", "rank")
    )


def plane_weights(proj_id: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane weights, no stored model: weight for
    (proj, dim i) = md5-derived parity of 'p{proj}:{i}' — the exact
    value base_hash28 % 2 would produce per row, computed once here.
    """
    return [
        int(hashlib.md5(f"p{proj_id}:{i}".encode()).hexdigest()[:7], 16) % 2 * 2 - 1
        for i in range(dim)
    ]


# above this dim, ±element_at unrolling is replaced by a literal-array
# zip_with fold: expression count otherwise grows as planes × dim
# (~50k nodes at 768-dim × 64 planes), risking codegen fallback and
# slow analysis (ADVICE r2 #4). The fold keeps ONE Literal node per
# plane (an array literal), at interpreted-eval cost per row.
UNROLL_MAX_DIM = 128

# total ±element_at nodes across ALL planes of one projection beyond
# which the generated Java method exceeds janino's 64 KB limit and
# whole-stage codegen silently falls back to INTERPRETED eval (measured:
# 32 planes × 64 dims logged 'Code grows beyond 64 KB' and ran 20-40 s
# at sf0.1 where the Arrow path below runs in ~2 s). Past this budget
# the band codes are computed by a vectorized pandas UDF instead.
CODEGEN_NODE_BUDGET = 1024


def _band_codes_arrow(bands: int, rows_per_band: int, dim: int):
    """pandas UDF computing ALL band codes per vector in one Arrow pass.

    The projection sum for each plane is accumulated SEQUENTIALLY over
    the dimension index — the same left-to-right float addition order as
    the unrolled ±element_at chain and the DuckDB oracle's SQL twin
    (queries._plane_sql), so the sign bits are bit-identical and the
    bucketing stays oracle-checkable.
    """
    n_planes = bands * rows_per_band
    W = np.array(
        [plane_weights(p, dim) for p in range(n_planes)], dtype=np.float64
    )  # n_planes × dim

    @pandas_udf(ArrayType(LongType()))
    def codes(v: pd.Series) -> pd.Series:
        # empty batch / null vectors: mirror cosine_arrow's guards — a
        # single null embedding must propagate as a NULL code array, not
        # fail the whole job in np.stack (ADVICE r3 #3)
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mask = v.notna()
        out = np.full(len(v), None, dtype=object)
        if mask.any():
            M = np.stack(v[mask].to_numpy())  # n × dim float64 (fixed-dim contract)
            n = M.shape[0]
            S = np.zeros((n, n_planes), dtype=np.float64)
            for i in range(dim):  # sequential: matches the unrolled sum order
                S += M[:, i, None] * W[None, :, i]
            bits = (S > 0).astype(np.int64)
            # combine bits row-major per band: code_b = sum_r bit[b*rpb+r] << (rpb-1-r)
            band_codes = np.zeros((n, bands), dtype=np.int64)
            for b in range(bands):
                code = np.zeros(n, dtype=np.int64)
                for r in range(rows_per_band):
                    code = code * 2 + bits[:, b * rows_per_band + r]
                band_codes[:, b] = code
            for j, row in zip(np.flatnonzero(mask.to_numpy()), band_codes):
                out[j] = row
        return pd.Series(out, dtype=object)

    return codes


def _plane_sign(vec: Column, weights: list[int]) -> Column:
    """sign(sum_d w_d * v_d); w_d = ±1 plan-time constants.

    dim <= UNROLL_MAX_DIM: codegen'd ±element_at sum (x*±1 folds to
    x or -x — bit-identical to the multiply form). Above: literal
    weight ARRAY + zip_with/aggregate fold — same values, compact plan.
    """
    if len(weights) > UNROLL_MAX_DIM:
        wlit = F.lit([float(w) for w in weights])
        return (
            F.aggregate(
                F.zip_with(vec, wlit, lambda x, w: x * w),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0
        ).cast("int")
    total = None
    for i, w in enumerate(weights):
        term = F.element_at(vec, i + 1)
        if w < 0:
            term = -term
        total = term if total is None else total + term
    return (total > 0).cast("int")


def infer_dim(df: DataFrame, vec_col: str = "embedding", strict: bool = False) -> int:
    """Vector width from one row — a bounded plan-build-time probe.

    FIXED-DIM CONTRACT: every downstream unrolled expression
    (element_at chains in cosine_native/_plane_sign) assumes all
    vectors have this width; under Spark 4 ANSI mode a shorter vector
    fails the job (INVALID_ARRAY_INDEX). ``strict=True`` verifies the
    contract with one min/max-size aggregate over the column (a full
    column scan — use it at ingest boundaries, not per call).
    """
    if strict:
        row = df.agg(
            F.min(F.size(F.col(vec_col))).alias("lo"),
            F.max(F.size(F.col(vec_col))).alias("hi"),
        ).first()
        if row is None or row["lo"] is None:
            raise ValueError(f"cannot infer vector dim from empty column {vec_col!r}")
        if row["lo"] != row["hi"] or row["lo"] <= 0:
            raise ValueError(
                f"ragged vector column {vec_col!r}: sizes in [{row['lo']}, {row['hi']}] "
                "violate the fixed-dim contract"
            )
        return int(row["hi"])
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer vector dim from column {vec_col!r}")
    return int(row["d"])


def lsh_band_table(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 16,
    rows_per_band: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Banded hyperplane LSH: bands * rows_per_band sign bits, one row
    per (vector, band). Two vectors collide on a band iff all
    rows_per_band sign bits agree — P(collide) = (1 - θ/π)^r per band,
    so band count tunes recall exactly like MinHash banding
    (operators/blocking.py). Self-join on (band_id, band_hash) for
    candidate pairs.
    """
    dim = dim or infer_dim(df, vec_col)
    base = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    if bands * rows_per_band * dim > CODEGEN_NODE_BUDGET:
        # one Arrow matmul for all band codes — same values (sequential
        # accumulation), compact plan; the unrolled form below would
        # break the 64 KB codegen method limit and run interpreted
        codes = _band_codes_arrow(bands, rows_per_band, dim)
        return base.select("vec_id", codes(F.col("_v")).alias("_codes")).select(
            "vec_id", F.posexplode("_codes").alias("band_id", "band_hash")
        )
    v = F.col("_v")
    band_structs = []
    for b in range(bands):
        code = F.lit(0).cast("long")
        for r in range(rows_per_band):
            code = code * 2 + _plane_sign(v, plane_weights(b * rows_per_band + r, dim))
        band_structs.append(F.struct(F.lit(b).alias("band_id"), code.alias("band_hash")))
    return base.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("_band")
    ).select(
        "vec_id",
        F.col("_band.band_id").alias("band_id"),
        F.col("_band.band_hash").alias("band_hash"),
    )


# ----------------------------------------------------------------- IVF
# The IVF coarse quantizer that dedup.semantic_duplicates blocks on.
# Where LSH buckets are data-independent (hyperplanes from a hash
# family), IVF adapts the partition to the data: a spherical k-means
# quantizer trained on a bounded deterministic sample, each vector
# assigned to its nearest centroid lists in ONE Arrow matmul projection
# (no shuffle). This is the FAISS IndexIVFFlat partition (the
# reference's ANN role, cogie/models/el/blink.py:97-167) restated as a
# narrow plan: the quantizer is tiny and lives in the expression tree.


def ivf_train(
    corpus: DataFrame,
    nlist: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_size: int = 20_000,
    iters: int = 15,
    seed: int = 13,
) -> np.ndarray:
    """Train the coarse quantizer: (nlist, dim) float64 L2-normalized
    centroids from a DETERMINISTIC bounded sample of the corpus.

    Sampling is the hash-gated pattern of the sampled IDF vocabulary
    (operators/scoring.py): order by xxhash64(id), take ``train_size``
    — order-stable under repartitioning, one bounded TakeOrdered job,
    never a full collect. The k-means itself runs on the driver over at
    most train_size × dim float64 (~10 MB at the defaults) with
    hash-seeded init and a FIXED iteration count, so the same corpus
    always yields the same quantizer — at 100 TB the sample bound, not
    the corpus, prices this step.
    """
    dim = dim or infer_dim(corpus, vec_col)
    rows = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("_v"),
                      F.xxhash64(F.col(id_col)).alias("_h"))
        .filter(F.col("_v").isNotNull() & (F.size("_v") == dim))
        .orderBy("_h")
        .limit(train_size)
        .select("_v")
        .collect()
    )
    M = np.array([r["_v"] for r in rows], dtype=np.float64)
    if M.size:
        norms = np.linalg.norm(M, axis=1)
        M = M[norms > 0] / norms[norms > 0, None]
    # guard AFTER the zero-norm filter: an all-zero-vector sample must
    # raise this ValueError, not an argmax-of-empty numpy error inside
    # the k-means loop (code-review r5 finding)
    if M.size == 0:
        raise ValueError("ivf_train: no usable (non-null, non-zero) vectors in corpus sample")
    uniq = np.unique(M, axis=0)
    k = min(nlist, len(uniq))
    rng = np.random.default_rng(seed)
    cents = uniq[rng.choice(len(uniq), size=k, replace=False)]
    for _ in range(iters):
        assign = (M @ cents.T).argmax(axis=1)
        for j in range(k):
            members = M[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
        n = np.linalg.norm(cents, axis=1)
        n[n == 0] = 1.0
        cents = cents / n[:, None]
    return cents


def _ivf_lists_arrow(centroids: np.ndarray, nprobe: int, dim: int):
    """pandas UDF: top-``nprobe`` centroid ids per vector by cosine
    (descending similarity, ties to the lower id — deterministic), one
    Arrow-batch matmul. NULL / wrong-width vectors yield NULL (the
    _band_codes_arrow convention), so they drop out of the inner list
    join instead of failing the task."""
    C = np.ascontiguousarray(centroids, dtype=np.float64)  # k × dim

    @pandas_udf(ArrayType(LongType()))
    def lists(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mask = v.map(lambda a: a is not None and len(a) == dim)
        out = np.full(len(v), None, dtype=object)
        if mask.any():
            M = np.stack(v[mask].to_numpy()).astype(np.float64)
            n = np.linalg.norm(M, axis=1)
            n[n == 0] = 1.0
            S = (M / n[:, None]) @ C.T  # rows × k
            p = min(nprobe, C.shape[0])
            # stable top-p: sort by (-sim, id)
            order = np.lexsort((np.broadcast_to(np.arange(C.shape[0]), S.shape), -S), axis=1)
            top = order[:, :p]
            for j, row in zip(np.flatnonzero(mask.to_numpy()), top):
                out[j] = row
        return pd.Series(out, dtype=object)

    return lists
