"""spark-submit entry point for the flagship linkage pipeline.

Usage (the north rule's deployment contract):

    python -c "from cogie_spark.shipping import package_zip; print(package_zip())"
    spark-submit --master local[32] \
        --py-files /tmp/cogie_spark_pkg.zip \
        scripts/linkage_job.py --groups 3000 --output /tmp/linkage_out

On a real cluster the same command with --master yarn/k8s and
--num-executors N is the N-vs-4N scaling run.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--groups", type=int, default=1000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--output", default=None)
    ap.add_argument("--input", default=None, help="parquet dir of code_files rows (overrides --groups)")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument(
        "--verify-lineage",
        action="store_true",
        help="after the run, re-read every committed stage and verify "
        "per-file row counts + content fingerprints against the "
        "lineage_partitions table (CheckpointManager.verify_commit); "
        "requires --checkpoint",
    )
    ap.add_argument(
        "--expire-keep",
        type=int,
        default=0,
        help="after the run (and any --verify-lineage pass), retain only "
        "the newest K commits per stage and delete superseded snapshot "
        "dirs (CheckpointManager.expire); 0 = keep everything",
    )
    ap.add_argument("--threshold", type=float, default=0.72)
    ap.add_argument(
        "--evaluate",
        action="store_true",
        help="grade the run against fixture truth: pairwise F1, B-cubed "
        "F1, blocking pair-completeness/reduction-ratio (requires the "
        "generated fixture, i.e. --groups mode, not --input)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cogie_linkage").getOrCreate()

    from cogie_spark.fixtures.codefiles import code_files
    from cogie_spark.io.tableio import CheckpointManager
    from cogie_spark.plans.linkage import LinkageConfig, run_linkage

    if args.input:
        files = truth_files = spark.read.parquet(args.input)
    else:
        truth_files = code_files(spark, args.groups, args.seed, with_truth=args.evaluate)
        files = (
            truth_files.drop("group_id", "member_idx") if args.evaluate else truth_files
        )
    ck = CheckpointManager(spark, args.checkpoint) if args.checkpoint else None
    t0 = time.time()
    with run_linkage(files, LinkageConfig(threshold=args.threshold), checkpoint=ck) as out:
        clusters = out["clusters"]
        if args.output:
            clusters.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
        else:
            n = clusters.count()
        stats = {
            "rows": n,
            "pairs_scored": out["scored"].count(),
            "blocking_stats": out["blocking_stats"],
            "wall_sec": round(time.time() - t0, 2),
        }
        if args.evaluate and not args.input:
            from pyspark.sql import functions as F

            from cogie_spark.fixtures.codefiles import labeled_pairs
            from cogie_spark.operators.metrics import bcubed, blocking_quality, pairwise_prf
            from cogie_spark.plans.linkage import predicted_pairs_from_clusters

            lp = labeled_pairs(truth_files).cache()
            stats["pairwise"] = pairwise_prf(predicted_pairs_from_clusters(clusters), lp)
            truth = truth_files.select("file_id", F.col("group_id").alias("entity_id"))
            stats["bcubed"] = bcubed(clusters, truth).collect()[0].asDict()
            f2r = out["file2rep"]
            lp_eval, n_rec = lp, files.count()
            if f2r is not None:
                # blocking is evaluated in representative space: true pairs
                # between byte-identical files were resolved by prededup
                lp_eval = (
                    lp.filter("is_match")
                    .join(f2r.toDF("left_id", "_rl"), "left_id")
                    .join(f2r.toDF("right_id", "_rr"), "right_id")
                    .filter("_rl != _rr")
                    .select(
                        F.least("_rl", "_rr").alias("left_id"),
                        F.greatest("_rl", "_rr").alias("right_id"),
                        F.lit(True).alias("is_match"),
                    )
                    .distinct()
                )
                n_rec = f2r.select("_rep_id").distinct().count()
            stats["blocking"] = (
                blocking_quality(out["pairs"], lp_eval, n_records=n_rec).collect()[0].asDict()
            )
    if args.verify_lineage and ck is not None:
        # every stage that committed at least once gets verified; a
        # mismatched/missing file list in the output is the operator's
        # cue NOT to resume from that snapshot
        stages = [
            s
            for s in ("pairs", "scored", "cc_edges", "clusters")
            if ck._read_manifest(s)["commits"]
        ]
        stats["lineage_verify"] = {s: ck.verify_commit(s) for s in stages}
    if args.expire_keep > 0 and ck is not None:
        stats["expired"] = {
            s: ck.expire(s, keep_last=args.expire_keep)
            for s in ("pairs", "scored", "cc_edges", "clusters")
            if ck._read_manifest(s)["commits"]
        }
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
