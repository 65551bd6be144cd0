"""Evaluation metrics as grouped aggregations (SURVEY.md §2.4).

Restates the reference's metric accumulators
(/root/reference/cogie/core/metrics.py — SpanFPreRecMetric 560-698,
AccuracyMetric 231-292, ConfusionMatrixMetric 162-229) as joins +
groupBy aggregations: the defaultdict counters become full-outer joins
with summed TP/FP/FN; micro vs macro become two grouping levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pairwise_prf(predicted: DataFrame, labeled: DataFrame) -> dict[str, float]:
    """Pairwise precision/recall/F1 of predicted match pairs against the
    labeled ground truth, evaluated over the labeled (co-blocked) pairs —
    BASELINE.json: 'pairwise F1 ... at the same blocking key'.

    predicted: (left_id, right_id) — the engine's matched pairs.
    labeled:   (left_id, right_id, is_match) — fixture ground truth.

    One full-outer join + one aggregation; the reference's analogue is
    the span-F1 TP/FP/FN counting (metrics.py:599-649).
    """
    pred = predicted.select("left_id", "right_id").withColumn("pred", F.lit(True))
    lab = labeled.select("left_id", "right_id", "is_match")
    joined = lab.join(pred, ["left_id", "right_id"], "left").select(
        "is_match", F.coalesce("pred", F.lit(False)).alias("pred")
    )
    row = joined.agg(
        F.sum(F.when(F.col("is_match") & F.col("pred"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_match") & F.col("pred"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_match") & ~F.col("pred"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = int(row["tp"]), int(row["fp"]), int(row["fn"])
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": p, "recall": r, "f1": f1}


def fbeta_by_class(
    df: DataFrame,
    target: str,
    pred: str,
    beta: float = 1.0,
    label_domain: "DataFrame | list | None" = None,
) -> DataFrame:
    """Per-class precision/recall/F-beta — reference FBetaMeasure with
    average=None (/root/reference/cogie/core/metrics.py:1075-1236):
    tp = #(gold==pred==c), pred_n = #(pred==c), true_n = #(gold==c);
    precision = tp/pred_n, recall = tp/true_n with 0-on-zero-denominator
    (_prf_divide, metrics.py:1228-1236); fscore = (1+β²)PR/(β²P+R) and
    fscore = 0 where tp == 0 (metrics.py:1184-1186).

    ``label_domain``: the reference averages over the FULL class
    vocabulary, so classes never predicted nor gold contribute zero
    rows to the macro mean. Pass the vocabulary (a list of labels or a
    1-column DataFrame) to union in those zero-count classes; without
    it the output covers observed labels only (ADVICE r2 #3).

    Two partial-aggregated groupBys + one join on the (small) class
    domain — never a shuffle of the fact rows beyond the counts.
    """
    beta2 = float(beta) * float(beta)
    preds = df.groupBy(F.col(pred).alias("label")).agg(
        F.sum(F.when(F.col(target) == F.col(pred), 1).otherwise(0)).alias("tp"),
        F.count("*").alias("pred_n"),
    )
    golds = df.groupBy(F.col(target).alias("label")).agg(F.count("*").alias("true_n"))
    j = preds.join(golds, "label", "full_outer")
    if label_domain is not None:
        # cast the domain to the fact table's label type: a str()-coerced
        # domain against a numeric label column would compare string vs
        # numeric in the full_outer join and duplicate every class row,
        # skewing the macro average (ADVICE r3 #5)
        label_type = dict(df.dtypes)[pred]
        if not isinstance(label_domain, DataFrame):
            label_domain = df.sparkSession.createDataFrame(
                [(str(x),) for x in label_domain], "label string"
            )
        dom = (
            label_domain.select(
                F.col(label_domain.columns[0]).cast(label_type).alias("label")
            ).distinct()
        )
        j = j.join(dom, "label", "full_outer")
    j = j.select(
        "label",
        F.coalesce("tp", F.lit(0)).alias("tp"),
        F.coalesce("pred_n", F.lit(0)).alias("pred_n"),
        F.coalesce("true_n", F.lit(0)).alias("true_n"),
    )
    p = F.coalesce(F.try_divide(F.col("tp"), F.col("pred_n")), F.lit(0.0))
    r = F.coalesce(F.try_divide(F.col("tp"), F.col("true_n")), F.lit(0.0))
    fb = F.when(F.col("tp") == 0, F.lit(0.0)).otherwise(
        (1.0 + beta2) * p * r / (beta2 * p + r)
    )
    return j.select(
        "label", "tp", "pred_n", "true_n",
        p.alias("precision"), r.alias("recall"), fb.alias("fbeta"),
    )


def fbeta_summary(per_class: DataFrame, beta: float = 1.0, average: str = "micro") -> DataFrame:
    """Collapse fbeta_by_class output to one row — the reference's
    average='micro'|'macro'|'weighted' modes (metrics.py:1178-1201)."""
    beta2 = float(beta) * float(beta)
    if average == "micro":
        # sums over an EMPTY per-class table are NULL, which would skip
        # the tp==0 zero-guard and surface NaN — coalesce to 0 first
        agg = per_class.agg(
            F.coalesce(F.sum("tp"), F.lit(0)).alias("tp"),
            F.coalesce(F.sum("pred_n"), F.lit(0)).alias("pred_n"),
            F.coalesce(F.sum("true_n"), F.lit(0)).alias("true_n"),
        )
        p = F.coalesce(F.try_divide(F.col("tp"), F.col("pred_n")), F.lit(0.0))
        r = F.coalesce(F.try_divide(F.col("tp"), F.col("true_n")), F.lit(0.0))
        fb = F.when(F.col("tp") == 0, F.lit(0.0)).otherwise(
            (1.0 + beta2) * p * r / (beta2 * p + r)
        )
        return agg.select(p.alias("precision"), r.alias("recall"), fb.alias("fbeta"))
    if average == "macro":
        return per_class.agg(
            F.coalesce(F.avg("precision"), F.lit(0.0)).alias("precision"),
            F.coalesce(F.avg("recall"), F.lit(0.0)).alias("recall"),
            F.coalesce(F.avg("fbeta"), F.lit(0.0)).alias("fbeta"),
        )
    if average == "weighted":
        w = F.col("true_n").cast("double")
        return per_class.agg(
            F.coalesce(F.try_divide(F.sum(w * F.col("precision")), F.sum(w)), F.lit(0.0)).alias("precision"),
            F.coalesce(F.try_divide(F.sum(w * F.col("recall")), F.sum(w)), F.lit(0.0)).alias("recall"),
            F.coalesce(F.try_divide(F.sum(w * F.col("fbeta")), F.sum(w)), F.lit(0.0)).alias("fbeta"),
        )
    raise ValueError(f"unknown average: {average!r}")


def fbeta_multilabel(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    gold_col: str,
    beta: float = 1.0,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-class multi-label F-beta over a LONG-format (instance, label,
    prob, gold∈{0,1}) table — reference FBetaMultiLabelMetric
    (/root/reference/cogie/core/metrics.py:1238-1325) and its ET
    instantiation EntityTypingMetric (:1736-1851): prediction = prob >=
    threshold per cell; tp/pred_n/true_n counted per class, then the
    parent FBetaMeasure formulas. One partial-aggregated groupBy on the
    class column — no join needed, the long format carries every cell.

    (The reference's all-zero-logit pred_mask guard is a tensor
    artifact with no long-format analogue: a cell either exists or it
    does not.)
    """
    beta2 = float(beta) * float(beta)
    pred = (F.col(prob_col) >= threshold).cast("int")
    gold = F.col(gold_col).cast("int")
    agg = df.groupBy(F.col(label_col).alias("label")).agg(
        F.sum(pred * gold).alias("tp"),
        F.sum(pred).alias("pred_n"),
        F.sum(gold).alias("true_n"),
    )
    p = F.coalesce(F.try_divide(F.col("tp"), F.col("pred_n")), F.lit(0.0))
    r = F.coalesce(F.try_divide(F.col("tp"), F.col("true_n")), F.lit(0.0))
    fb = F.when(F.col("tp") == 0, F.lit(0.0)).otherwise(
        (1.0 + beta2) * p * r / (beta2 * p + r)
    )
    return agg.select(
        "label", "tp", "pred_n", "true_n",
        p.alias("precision"), r.alias("recall"), fb.alias("fbeta"),
    )


def tuple_prf(pred: DataFrame, gold: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Micro P/R/F1 over exact tuple matches — the reference's
    SPO/CASEE/Event tuple metrics (SPOMetric
    /root/reference/cogie/core/metrics.py:1327-1537, EventMetric
    :960-1073): pred_num / gold_num / right_num counters with
    p = right/pred, r = right/gold, f1 = 2pr/(p+r), 0 on empty.

    Set semantics per tuple key (the reference compares set-valued
    extraction outputs): both sides are distinct'd, then one full-outer
    join + one aggregation.
    """
    p = pred.select(*keys).distinct().withColumn("_p", F.lit(1))
    g = gold.select(*keys).distinct().withColumn("_g", F.lit(1))
    j = p.join(g, list(keys), "full_outer")
    # sums over an EMPTY join are NULL, which would skip the zero guards
    # below and compute 0.0/0.0 — coalesce the counters to 0 (ADVICE r2)
    agg = j.agg(
        F.coalesce(F.sum(F.when(F.col("_p").isNotNull(), 1).otherwise(0)), F.lit(0)).alias("pred_num"),
        F.coalesce(F.sum(F.when(F.col("_g").isNotNull(), 1).otherwise(0)), F.lit(0)).alias("gold_num"),
        F.coalesce(
            F.sum(F.when(F.col("_p").isNotNull() & F.col("_g").isNotNull(), 1).otherwise(0)),
            F.lit(0),
        ).alias("right_num"),
    )
    pr = F.coalesce(F.try_divide(F.col("right_num"), F.col("pred_num")), F.lit(0.0))
    rc = F.coalesce(F.try_divide(F.col("right_num"), F.col("gold_num")), F.lit(0.0))
    f1 = F.when(F.col("right_num") == 0, F.lit(0.0)).otherwise(2.0 * pr * rc / (pr + rc))
    return agg.select(
        "pred_num", "gold_num", "right_num",
        pr.alias("precision"), rc.alias("recall"), f1.alias("f1"),
    )


def bcubed(
    clusters: DataFrame,
    truth: DataFrame,
    id_col: str = "file_id",
    cluster_col: str = "cluster_id",
    truth_col: str = "entity_id",
) -> DataFrame:
    """B-cubed precision/recall/F1 of a predicted clustering against a
    gold entity assignment (Bagga & Baldwin 1998) — the standard
    entity-resolution cluster metric alongside pairwise F1
    (metrics.pairwise_prf): pairwise F1 ignores singletons and weights
    big clusters quadratically; B-cubed averages per-RECORD, so a
    1000-file boilerplate cluster and a 2-file pair count per member.

    For record i with predicted cluster C(i) and gold entity T(i):
    precision_i = |C(i) ∩ T(i)| / |C(i)|, recall_i = |C(i) ∩ T(i)| / |T(i)|;
    B³P/R = mean over records, F1 their harmonic mean.

    Distributed restatement — no per-record set intersection: every
    record in the (c, t) contingency cell shares |C ∩ T| = n_ct, so

        Σ_i precision_i = Σ_{c,t} n_ct² / n_c
        Σ_i recall_i    = Σ_{c,t} n_ct² / n_t

    Three key-partitioned aggregations + two joins on tables no larger
    than the record count; no driver state, survives any cluster-size
    skew (the contingency table is as skewed as the clustering, but
    each cell is one row).

    clusters: (id_col, cluster_col) — engine output (e.g.
    run_linkage()['clusters']). truth: (id_col, truth_col). Records
    present in only one side are dropped by the inner join — evaluate
    over the labeled subset, same convention as pairwise_prf. Returns a
    1-row DataFrame (n_records, bcubed_precision, bcubed_recall,
    bcubed_f1).
    """
    assign = clusters.select(id_col, cluster_col).join(
        truth.select(id_col, truth_col), id_col
    )
    cells = assign.groupBy(cluster_col, truth_col).agg(F.count("*").alias("n_ct"))
    by_c = cells.groupBy(cluster_col).agg(F.sum("n_ct").alias("n_c"))
    by_t = cells.groupBy(truth_col).agg(F.sum("n_ct").alias("n_t"))
    contrib = (
        cells.join(by_c, cluster_col)
        .join(by_t, truth_col)
        .select(
            F.col("n_ct"),
            (F.col("n_ct") * F.col("n_ct") / F.col("n_c")).alias("_p"),
            (F.col("n_ct") * F.col("n_ct") / F.col("n_t")).alias("_r"),
        )
    )
    agg = contrib.agg(
        F.coalesce(F.sum("n_ct"), F.lit(0)).alias("n_records"),
        F.coalesce(F.sum("_p"), F.lit(0.0)).alias("_sp"),
        F.coalesce(F.sum("_r"), F.lit(0.0)).alias("_sr"),
    )
    pr = F.coalesce(F.try_divide(F.col("_sp"), F.col("n_records")), F.lit(0.0))
    rc = F.coalesce(F.try_divide(F.col("_sr"), F.col("n_records")), F.lit(0.0))
    f1 = F.when(pr + rc == 0, F.lit(0.0)).otherwise(2.0 * pr * rc / (pr + rc))
    return agg.select(
        "n_records",
        pr.alias("bcubed_precision"),
        rc.alias("bcubed_recall"),
        f1.alias("bcubed_f1"),
    )


def blocking_quality(
    candidates: DataFrame,
    labeled: DataFrame,
    n_records: int,
) -> DataFrame:
    """Blocking-stage quality: pair completeness and reduction ratio
    (Christen 2012) — evaluates candidate GENERATION, where pairwise_prf
    evaluates the final match decision.

    pair_completeness = |candidates ∩ true matches| / |true matches|
      (the recall ceiling of everything downstream: a true pair the
      blocker never emits can never be matched), and
    reduction_ratio  = 1 − |candidates| / (n(n−1)/2)
      (the fraction of the quadratic comparison space the blocker
      avoided — the whole point of blocking at 10^12 files).

    candidates: (left_id, right_id) from candidate_pairs / run_linkage's
    pair table. labeled: (left_id, right_id, is_match) ground truth.
    Pair order is normalized on both sides, so (a,b) and (b,a) match.
    One left semi-join on the (small) labeled side + two counts.
    """
    def _norm(df: DataFrame) -> DataFrame:
        return df.select(
            F.least("left_id", "right_id").alias("left_id"),
            F.greatest("left_id", "right_id").alias("right_id"),
            *[c for c in df.columns if c not in ("left_id", "right_id")],
        )

    cand = _norm(candidates.select("left_id", "right_id")).distinct()
    true_pairs = _norm(labeled).filter(F.col("is_match")).select("left_id", "right_id").distinct()
    found = true_pairs.join(cand, ["left_id", "right_id"], "left_semi")
    n_cand = cand.count()
    n_true = true_pairs.count()
    n_found = found.count()
    total_space = n_records * (n_records - 1) / 2.0
    spark = candidates.sparkSession
    return spark.createDataFrame(
        [(
            n_cand,
            n_true,
            n_found,
            (n_found / n_true) if n_true else 0.0,
            (1.0 - n_cand / total_space) if total_space else 0.0,
        )],
        "n_candidates bigint, n_true_pairs bigint, n_true_found bigint, "
        "pair_completeness double, reduction_ratio double",
    )
