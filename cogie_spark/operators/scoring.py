"""Pairwise scoring over the bounded candidate-pair table.

Replaces the reference's cross-encoder re-ranking
(/root/reference/cogie/toolkit/el/el_toolkit.py:631-645; pair build
el_modify el_toolkit.py:538-555): the pair table (J5 in SURVEY.md §2.3)
is joined back to both sides' features, then scored by Arrow-batched
pandas UDFs (functions/similarity.py) — one vectorized batch per Arrow
chunk, zero per-row Python, exactly the reference's batched-GPU shape
restated on Spark.

Feature truncation mirrors the reference's fixed feature widths
(max_context_length=32 / max_cand_length=128 / pair width 160,
/root/reference/test/models/test_blink.py:39-53): we truncate normalized
content to ``feature_chars`` before scoring so scorer cost is bounded per
pair regardless of file size — the property that keeps throughput stable
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cogie_spark.functions.similarity import (
    jaro_winkler,
    tfidf_cosine_udf,
    token_set_ratio_native,
)
from cogie_spark.functions.text import tokens


def corpus_idf(
    files: DataFrame,
    content_col: str = "content",
    max_terms: int = 100_000,
    n_docs: int | None = None,
) -> dict[str, float]:
    """token -> log(N/df) + 1 over the corpus for the ``max_terms`` most
    frequent terms, in (df desc, token asc) order (the cap bounds the
    broadcast; tokens outside it weigh 1.0 inside the UDF). ``n_docs``
    is N when the caller has it (run_linkage: the blocking precheck's
    ``n_block_rows // bands``); else one ``count()`` job takes it. The
    vocabulary is one job, fetched as Arrow.

    This is the deterministic stand-in for the reference's precomputed
    candidate encodings (/root/reference/cogie/models/el/biencoder.py:
    127-128): built once, shipped to every executor, reused per batch.
    """
    import math

    from cogie_spark.jobdesc import job_desc

    if n_docs is None:
        with job_desc(files, "cogie:idf-ndocs"):
            n_docs = files.count()
    n_docs = n_docs or 1
    # IDF is a corpus statistic — estimate it from a deterministic hash
    # sample once the corpus is large (identical idf distribution, ~10x
    # less explode/sort work and a bounded driver collect)
    target_sample = 30_000
    src = files
    denom = n_docs
    if n_docs > target_sample:
        k = max(2, n_docs // target_sample)
        src = files.filter(F.pmod(F.xxhash64(F.col(content_col)), F.lit(k)) == 0)
        denom = max(n_docs // k, 1)
    vocab = (
        src.select(F.explode(F.array_distinct(tokens(content_col))).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("t"))
        .limit(max_terms)
    )
    with job_desc(files, "cogie:idf-vocab"):
        table = vocab.toArrow()
    return {
        t: math.log(denom / df) + 1.0
        for t, df in zip(table.column("t").to_pylist(), table.column("df").to_pylist())
    }


def score_features(
    joined: DataFrame,
    jw_chars: int = 256,
    ts_chars: int = 512,
    weights: tuple[float, float, float] = (0.2, 0.5, 0.3),
    idf: dict[str, float] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Score a pair table that already carries its feature columns
    (_lf, _rf).

    score = w_jw * jaro_winkler + w_ts * token_set_ratio
          + w_tf * tfidf_cosine — the north rule's scorer triple
    (jw/tfidf Arrow-batched pandas UDFs, token-set pure JVM — the
    cross-encoder replacement). The two quadratic scorers see bounded
    windows — ``jw_chars`` and ``ts_chars`` — the same bounded-feature-
    width discipline as the reference's max_seq_length=160-token pair
    input (test_blink.py:53): per-pair scorer cost is O(window²), so an
    unbounded window is the difference between a scorer stage that
    scales with pair count and one that scales with pair×content size.
    tfidf (linear) sees the whole feature window.

    The features ride the same pair-table joins as the cascade
    signature (blocking.cascade_join): every avoided pair-table
    shuffle is the dominant cost at 10^12-pair scale.

    ``partitions`` controls the pre-scorer spread WITHOUT probing the
    plan (a ``joined.rdd.getNumPartitions()`` probe under AQE finalizes
    the adaptive plan and can execute the upstream join shuffles at
    plan-build time — results a later action's fresh QueryExecution
    does not reuse, i.e. a hidden double execution for any caller whose
    pair table is not persisted):

    - ``None`` (default): repartition to ``max(cores*2, 8)``. Safe for
      public callers — the scorers are CPU-bound per row and AQE
      coalesces small-BYTES shuffles to 1-2 partitions, which would
      serialize the UDF stage; one extra pair-table shuffle is cheaper
      than a single-core scorer stage.
    - ``0``: score in place. For callers (run_linkage) that KNOW the
      upstream partitioning already feeds every core — skipping the
      shuffle of the pipeline's biggest relation was A/B-measured a
      net win at bench scale.
    """
    w_jw, w_ts, w_tf = weights
    tf_cos = tfidf_cosine_udf(idf)
    if partitions is None:
        cores = joined.sparkSession.sparkContext.defaultParallelism
        joined = joined.repartition(max(cores * 2, 8))
    return (
        joined
        .withColumn(
            "jw",
            jaro_winkler(
                F.substring(F.col("_lf"), 1, jw_chars), F.substring(F.col("_rf"), 1, jw_chars)
            ),
        )
        # token_set_ratio is pure JVM expressions (sorted-unique-token
        # Levenshtein ratio) — one fewer Arrow round-trip per pair
        .withColumn(
            "ts",
            token_set_ratio_native(
                F.substring(F.col("_lf"), 1, ts_chars), F.substring(F.col("_rf"), 1, ts_chars)
            ),
        )
        .withColumn("tfidf", tf_cos(F.col("_lf"), F.col("_rf")))
        .withColumn(
            "score",
            F.lit(w_jw) * F.col("jw") + F.lit(w_ts) * F.col("ts") + F.lit(w_tf) * F.col("tfidf"),
        )
        .drop("_lf", "_rf")
    )


def match_edges(scored: DataFrame, threshold: float = 0.72) -> DataFrame:
    """Threshold scored pairs into the match-edge list for clustering.

    The reference's analogue is the argmax winner pick
    (el_toolkit.py:131-133); in the dedup/clustering formulation every
    above-threshold pair is an edge and transitivity is resolved by
    connected components (operators/cc.py).
    """
    return scored.filter(F.col("score") >= threshold).select("left_id", "right_id", "score")
