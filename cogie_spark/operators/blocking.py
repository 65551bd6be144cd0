"""Blocking: salted MinHash-LSH candidate generation.

Spark-first replacement for the reference's FAISS ANN retrieval stage
(/root/reference/cogie/toolkit/el/el_toolkit.py:511-535 run_biencoder;
index search /root/reference/cogie/models/el/blink.py:157-162). The role
is identical — sub-linear candidate generation that bounds the pair count
before the expensive scorer — but the mechanism is LSH banding expressed
as explode + hash aggregation so Catalyst/AQE handle the physics.

Scale design (the part that must survive 10^12 files):
- Composite block key = (lang, band_id, band_hash): lang pre-partitions
  the space; band_hash is the MinHash band collision.
- Pair generation collects each block's sorted ids and emits its i<j
  pairs. Its cost is sum(block_size^2), so skew is THE failure mode:
  boilerplate files (license headers, empty files) form mega-blocks.
  Two-tier guardrail (candidate_pairs): hot blocks are SALTED per band
  (bounded buckets, band multiplicity recovers the pairs), pathological
  blocks are dropped AND returned for logging (never silent — SURVEY.md
  §2).
- Pairs are deduped across bands with a groupBy on (left,right) — the
  map-side partial aggregation makes this cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cogie_spark.functions.hashing import base_hash28, minhash_bands
from cogie_spark.functions.sqltext import column_sql


def signature_table(
    df: DataFrame,
    id_col: str = "file_id",
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("lang",),
    num_perm: int = 32,
    shingle_k: int = 8,
    mode: str = "portable",
) -> DataFrame:
    """(id, *key_cols, sig: array<bigint>) — the per-row MinHash signature.

    Computed once and reused by BOTH band explosion (blocking) and the
    signature-agreement Jaccard estimate (scoring prefilter) — the
    Spark analogue of the reference's precomputed candidate encodings
    (/root/reference/cogie/models/el/biencoder.py:127-128).

    mode='portable': char k-shingles + md5 hash family (bit-identical in
    DuckDB — used by oracle-checked queries).
    mode='fast': word 3-gram shingles + xxhash64 + single-pass aggregate
    (the pipeline default; ~5x fewer shingles, no md5 string round-trip).
    """
    # Construction notes (both modes):
    # - positions are EXPLODED and the shingle/gram is built per row in
    #   codegen'd projections; building the shingle array with
    #   higher-order transform() first is interpreted expression eval
    #   and measured 15x slower;
    # - no distinct pass: MinHash minima are idempotent to duplicate
    #   shingles, so signatures are identical without it;
    # - min-aggregates are HashAggregate: whole-stage codegen'd and
    #   partially combined map-side, so the shuffle is |rows| x
    #   num_perm longs regardless of shingle count;
    # - the num_perm minima are ONE aggregate expression written as SQL
    #   text, array(min((a_i * _h + b_i) % P), ...) AS sig, which the
    #   JVM parses in one call: built node by node through the Column
    #   API it costs ~75 Py4J round-trips per permutation before the
    #   first job runs (functions/sqltext.py). Same physical plan.
    from cogie_spark.functions.hashing import MINHASH_P, _perm_coeffs
    from cogie_spark.functions.text import normalize_text, tokens

    if mode == "fast":
        # word 3-gram shingles, xxhash64 base (native, not DuckDB-portable)
        toked = df.select(id_col, *key_cols, tokens(content_col).alias("_tk"))
        exploded = toked.select(
            id_col,
            *key_cols,
            "_tk",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("_tk") - F.lit(2), F.lit(1)))
            ).alias("_i"),
        ).select(
            id_col,
            *key_cols,
            F.pmod(
                F.xxhash64(F.concat_ws(" ", F.slice(F.col("_tk"), F.col("_i"), F.lit(3)))),
                F.lit(1 << 28),
            ).alias("_h"),
        )
    else:
        # portable mode: char k-shingles + md5-based 28-bit hash family —
        # signature values are bit-identical to the DuckDB oracle SQL
        normed = df.select(id_col, *key_cols, normalize_text(content_col).alias("_t"))
        exploded = normed.select(
            id_col,
            *key_cols,
            "_t",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("_t") - F.lit(shingle_k - 1), F.lit(1))
                )
            ).alias("_i"),
        ).select(
            id_col,
            *key_cols,
            base_hash28(F.col("_t").substr(F.col("_i"), F.lit(shingle_k))).alias("_h"),
        )

    minima = ", ".join(
        f"min(({a} * `_h` + {b}) % {MINHASH_P})"
        for a, b in map(_perm_coeffs, range(num_perm))
    )
    return exploded.groupBy(id_col, *key_cols).agg(F.expr(f"array({minima}) AS sig"))


def bands_from_signatures(
    sigs: DataFrame,
    id_col: str = "file_id",
    key_cols: tuple[str, ...] = ("lang",),
    bands: int = 16,
    rows_per_band: int = 2,
) -> DataFrame:
    """Explode a signature table into LSH block memberships."""
    bandcol = minhash_bands("sig", bands, rows_per_band)
    return sigs.select(id_col, *key_cols, F.explode(bandcol).alias("_band")).select(
        id_col,
        *key_cols,
        F.col("_band.band_id").alias("band_id"),
        F.col("_band.band_hash").alias("band_hash"),
    )


def estimate_jaccard(sig_a: F.Column | str, sig_b: F.Column | str, num_perm: int) -> F.Column:
    """MinHash agreement fraction — an unbiased Jaccard estimate, pure
    JVM expressions. Used as the cheap cascade filter before the
    pandas-UDF scorers (the reference's retrieve-then-rerank split,
    SURVEY.md §4). ``sig_a``/``sig_b`` are column names or Columns
    (rendered to SQL text once, see functions/sqltext.column_sql);
    the result is a double.

    Unrolled to ``num_perm`` static element comparisons: higher-order
    zip_with/filter lambdas run on the interpreted expression path and
    allocate per row; the unrolled sum stays in whole-stage codegen.
    The sum is one SQL expression, parsed in one JVM call however wide;
    its divisor is a ``D`` literal (a plain ``64.0`` would be DECIMAL).
    """
    a, b = column_sql(sig_a), column_sql(sig_b)
    terms = " + ".join(
        f"cast(element_at({a}, {i}) = element_at({b}, {i}) as int)"
        for i in range(1, num_perm + 1)
    )
    return F.expr(f"({terms}) / {float(num_perm)}D")


def cascade_join(
    pairs: DataFrame,
    side: DataFrame,
    num_perm: int,
    floor: float,
    id_col: str = "_sid",
    payload: tuple[str, str, str] | None = None,
) -> DataFrame:
    """The MinHash cascade: attach both sides of each candidate pair from
    a per-id ``side`` table (``id_col``, ``sig``, optional payload) and
    keep the pairs whose agreement estimate reaches ``floor``.

    The side table is the caller's, and so is the scorer that reads the
    payload: run_linkage and the link stream pass the b-bit signature
    plus the feature window (``payload=("_feat", "_lf", "_rf")`` names
    the column and its left/right aliases), the near-dup pairs step its
    full-width signature plus each doc's shingle set (``("_sh", "_lg",
    "_rg")``). ``sig`` is read over its first ``num_perm`` components.
    Adds ``est_jaccard`` and the payload aliases; the pair table is
    joined once per side.
    """

    def _one(side_name: str, sig_alias: str, pay_alias: int) -> DataFrame:
        cols = [F.col(id_col).alias(side_name), F.col("sig").alias(sig_alias)]
        if payload is not None:
            cols.append(F.col(payload[0]).alias(payload[pay_alias]))
        return side.select(*cols)

    return (
        pairs.join(_one("left_id", "_lsig", 1), "left_id")
        .join(_one("right_id", "_rsig", 2), "right_id")
        .withColumn("est_jaccard", estimate_jaccard("_lsig", "_rsig", num_perm))
        .filter(F.col("est_jaccard") >= floor)
        .drop("_lsig", "_rsig")
    )


def cross_band_pairs(
    new_bands: DataFrame,
    old_bands: DataFrame,
    id_col: str = "file_id",
    key_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Candidate pairs BETWEEN two band tables — a stream batch's bands
    against the committed state's: new ⋈ old on (*key_cols, band_id,
    band_hash) -> distinct (left_id = new id, right_id = old id). Both
    streams' cross-batch blocking goes through here."""
    n, o = new_bands.alias("n"), old_bands.alias("o")
    cond = None
    for c in (*key_cols, "band_id", "band_hash"):
        eq = F.col(f"n.{c}") == F.col(f"o.{c}")
        cond = eq if cond is None else cond & eq
    return (
        n.join(o, cond)
        .select(F.col(f"n.{id_col}").alias("left_id"), F.col(f"o.{id_col}").alias("right_id"))
        .distinct()
    )


def candidate_pairs(
    blocks: DataFrame,
    id_col: str = "file_id",
    key_cols: tuple[str, ...] = ("lang",),
    max_block_size: int = 64,
    salvage_factor: int = 32,
    *,
    release_into: list,
    stats_into: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Self-join blocks into deduped candidate pairs with a two-tier
    skew guardrail: SALT the hot blocks, DROP the pathological ones.

    - blocks <= max_block_size: joined as-is.
    - blocks in (max_block_size, max_block_size*salvage_factor]: each
      member gets a deterministic per-(block, member) salt in
      [0, ceil(size/cap)); pairs form only within a salt bucket, so no
      join task ever sees more than ~cap^2 comparisons. Because the
      salt is drawn independently PER BAND, a true pair in a hot block
      still meets in some band with prob 1-(1-1/k)^bands (16 bands,
      k=5 -> 0.972) — band multiplicity is the salting recovery.
    - blocks beyond the salvage tier are dropped AND returned in
      ``dropped_blocks`` for logging (north rule: no silent caps) —
      a 10^5-member boilerplate block would otherwise emit 5*10^9 pairs.

    ``stats_into``: optional dict that receives scalars the mandatory
    size-precheck aggregation computes FOR FREE (same single job):
    ``max_block_size`` (largest block seen), ``n_block_rows`` (total
    block-membership rows = |input rows| x bands for full signatures —
    callers divide by their band count to recover the input row count
    without a separate count() job), and ``n_dropped_blocks`` (blocks
    beyond the salvage tier — the count the no-silent-caps rule wants
    logged, without a second action on ``dropped``).

    Returns (pairs, dropped_blocks). Both are LAZY over internal caches
    (the block table, and the per-block sizes on the hot path), which
    are appended to ``release_into``: the caller unpersists them once
    pairs and dropped are materialized.
    """
    from pyspark import StorageLevel

    key = [*key_cols, "band_id", "band_hash"]
    # materialize the block table once (compressed columnar cache): it
    # is read by the size aggregation AND the pair aggregation, and the
    # A/B leg measurements showed recomputing the band explode + sizes
    # shuffle twice costs more than the cache round-trip at both core
    # counts. MEMORY_AND_DISK spills at scale.
    blocks = blocks.persist(StorageLevel.MEMORY_AND_DISK)
    release_into.append(blocks)
    sizes = blocks.groupBy(*key).agg(F.count("*").alias("block_size"))

    # adaptive guardrail: the sizes AGGREGATION is cheap (map-side
    # combined), but joining it back onto the full block table is a
    # second shuffle of the biggest relation in this stage. One bounded
    # scalar pre-check skips that join — and the whole salt machinery —
    # whenever no block exceeds the cap (exact-prededup'd corpora hit
    # this path; boilerplate-heavy ones take the guarded path below).
    from cogie_spark.jobdesc import job_desc

    drop_cap = max_block_size * salvage_factor
    with job_desc(blocks, "cogie:blocking-size-precheck"):
        max_row = sizes.agg(
            F.max("block_size").alias("m"),
            F.sum("block_size").alias("n"),
            F.count(F.when(F.col("block_size") > drop_cap, True)).alias("d"),
        ).first()
    max_seen = int(max_row["m"]) if max_row and max_row["m"] is not None else 0
    if stats_into is not None:
        stats_into["max_block_size"] = max_seen
        stats_into["n_block_rows"] = int(max_row["n"] or 0) if max_row else 0
        stats_into["n_dropped_blocks"] = int(max_row["d"] or 0) if max_row else 0
    if max_seen > drop_cap:
        # no-silent-caps (VERDICT r5 #3): pathological blocks beyond the
        # salvage tier are about to be dropped — surface the count from
        # the aggregation that already ran, costing no extra job
        import logging

        logging.getLogger(__name__).warning(
            "candidate_pairs: dropping %d block(s) larger than %d members "
            "(max seen %d) — pairs inside them are not generated; the "
            "dropped_blocks table lists them; raise max_block_size or "
            "exact-dedup first",
            int(max_row["d"] or 0), drop_cap, max_seen,
        )
    if max_seen <= max_block_size:
        dropped = sizes.filter(F.lit(False))
        salted = blocks.withColumn("salt", F.lit(0))
    else:
        # hot-block path: sizes is re-read by the keep/dropped splits
        # and the salting join — cache the (1 row per block) table here
        sizes = sizes.persist(StorageLevel.MEMORY_AND_DISK)
        release_into.append(sizes)
        keep = sizes.filter(F.col("block_size") <= max_block_size * salvage_factor)
        dropped = sizes.filter(F.col("block_size") > max_block_size * salvage_factor)

        n_salt = F.when(F.col("block_size") <= max_block_size, F.lit(1)).otherwise(
            F.ceil(F.col("block_size") / max_block_size).cast("int")
        )
        salted = (
            blocks.join(keep, key, "inner")
            .withColumn("_nsalt", n_salt)
            .withColumn("salt", F.pmod(F.xxhash64(id_col, "band_hash"), F.col("_nsalt")))
            .drop("_nsalt", "block_size")
        )

    # pair generation: aggregate each (block, salt) bucket into a
    # sorted id array, then emit the i<j pairs with posexplode + slice.
    # This replaced an equi self-join on the block key, whose
    # sort-merge plan was measured WALL-FLAT from 8 to 32 cores — the
    # stage cost was the two full sorts of the biggest relation in the
    # pipeline, not the pair emission. The hash aggregate needs no sort
    # (session.py raises the ObjectHashAggregate sort-fallback
    # threshold so it STAYS hash-based), partially combines map-side,
    # and the generate emits exactly s(s-1)/2 rows per bucket instead
    # of the join's s^2-then-filter. Array sizes are bounded only IN
    # EXPECTATION: the salt pmod(xxhash64(id, band_hash), n_salt) spreads
    # a hot block over n_salt buckets of ~max_block_size members on
    # average, but no bucket's size is capped (pathological blocks were
    # dropped above). Enforcing the observed maximum bucket is ROADMAP
    # item 1.
    grouped = salted.groupBy(*key, "salt").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("_ids")
    )
    pairs = (
        grouped.filter(F.size("_ids") >= 2)
        .select(*key_cols, F.posexplode("_ids").alias("_i", "left_id"), "_ids")
        .select(
            *key_cols,
            "left_id",
            F.explode(
                F.slice("_ids", F.col("_i") + 2, F.size("_ids") - F.col("_i") - 1)
            ).alias("right_id"),
        )
        # dedup across bands: map-side combine makes this a cheap agg
        .groupBy("left_id", "right_id", *key_cols)
        .agg(F.count("*").alias("n_shared_bands"))
    )
    return pairs, dropped
