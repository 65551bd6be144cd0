"""spark-submit entry point for the composed corpus-cleaning plan.

    spark-submit --master local[32] \
        --py-files /tmp/cogie_spark_pkg.zip \
        scripts/corpus_job.py --input /data/documents --output /data/clean

Tags every document (audit view), writes the gated + deduplicated +
PII-redacted training view, and prints one JSON stats line.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir with (doc_id, text) columns")
    ap.add_argument("--output", default=None, help="parquet dir for the kept view")
    ap.add_argument("--tagged-output", default=None, help="parquet dir for the audit view")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--max-dup-line-frac", type=float, default=0.30)
    ap.add_argument("--max-top-2gram-char-frac", type=float, default=0.20)
    ap.add_argument("--langs", default="", help="comma-separated language allowlist (empty = all)")
    ap.add_argument("--no-redact", action="store_true")
    ap.add_argument(
        "--near-dup", choices=("off", "minhash", "semantic"), default="off",
        help="near-duplicate pruning of the kept view (plans/corpus.py "
             "near_dup_prune): transitive groups, min-id representative",
    )
    ap.add_argument("--near-dup-threshold", type=float, default=None,
                    help="jaccard (minhash) / cosine (semantic) threshold; "
                         "omit for the operator defaults")
    ap.add_argument("--vec-col", default="embedding",
                    help="embedding column for --near-dup semantic")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cogie_corpus").getOrCreate()

    from cogie_spark.plans.corpus import CorpusConfig, clean_corpus, kept_view

    cfg = CorpusConfig(
        id_col=args.id_col,
        text_col=args.text_col,
        min_quality=args.min_quality,
        max_dup_line_frac=args.max_dup_line_frac,
        max_top_2gram_char_frac=args.max_top_2gram_char_frac,
        langs=tuple(s for s in args.langs.split(",") if s),
        redact=not args.no_redact,
    )
    docs = spark.read.parquet(args.input)
    t0 = time.time()
    out = clean_corpus(docs, cfg)
    if args.tagged_output:
        out["tagged"].write.mode("overwrite").parquet(args.tagged_output)
    if args.tagged_output:
        # derive kept from the just-written audit bytes: writing both
        # views from the same clean_corpus lineage would run the whole
        # tag plan over the raw corpus TWICE
        kept = kept_view(spark.read.parquet(args.tagged_output), cfg)
    else:
        kept = out["kept"]

    def write_and_count(view):
        # the training view on disk is the FINAL (gated, deduped,
        # near-dup-pruned) one; the stats read the written bytes
        # instead of recomputing the plan
        if args.output:
            view.write.mode("overwrite").parquet(args.output)
            view = spark.read.parquet(args.output)
        return docs.count(), view.count()

    n_dup_pruned = None
    if args.near_dup == "off":
        n_in, n_kept = write_and_count(kept)
    else:
        from cogie_spark.plans.corpus import near_dup_prune

        if not args.tagged_output:
            # near-dup pair generation reads its input several times
            # (signatures + verify joins); without written audit bytes
            # to re-read, materialize the gate plan once
            kept = kept.persist()
        kw = {}
        if args.near_dup == "minhash":
            if args.near_dup_threshold is not None:
                kw["jaccard_threshold"] = args.near_dup_threshold
        else:
            kw["vec_col"] = args.vec_col
            if args.near_dup_threshold is not None:
                kw["threshold"] = args.near_dup_threshold
        # the pruned view is lazy over the prune's caches: write and
        # count it before they are released
        with near_dup_prune(kept, cfg, method=args.near_dup, **kw) as nd:
            n_dup_pruned = nd["dup_groups"].count()
            n_in, n_kept = write_and_count(nd["pruned"])
        kept.unpersist()
    stats = {
        "docs_in": n_in,
        "docs_kept": n_kept,
        "kept_frac": round(n_kept / max(n_in, 1), 4),
    }
    if n_dup_pruned is not None:
        stats["near_dup_pruned"] = n_dup_pruned
    stats["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
