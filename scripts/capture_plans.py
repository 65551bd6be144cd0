"""Capture .explain("formatted") for the headline bench queries into
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence files.

Usage:
    python scripts/capture_plans.py r06 before [sf_dir]
    python scripts/capture_plans.py r06 after  [sf_dir]
    python scripts/capture_plans.py r06 compare before after

Captures the six relational/dedup headliners plus the corpus-clean plan
and the flagship stage plans (signatures, pairs, scored, clusters —
explained WITHOUT running the pipeline's eager actions where possible).

``compare`` reads two captured suffixes of one tag and masks the
``plan_id=N`` numbers (they count the plans the session built before).
Per plan it prints ``identical`` (byte-identical after that mask),
``identical up to ids`` (equal once every ``#N`` expression id is
renumbered in order of first appearance, every ``RDD[N]`` id is masked
and the ``_N`` counter PySpark appends to lambda variable names is
dropped, ``lambda x_54#`` -> ``lambda x#``: all three come from
process-wide counters, so a plan built after a changed one, or after
fewer Python lambdas were built, is renumbered without changing), or
``different``/``missing``. It exits non-zero on any ``different`` or
``missing`` plan.
"""

from __future__ import annotations

import os
import re
import sys

_PLAN_ID = re.compile(r"plan_id=\d+")
_EXPR_ID = re.compile(r"#\d+")
_RDD_ID = re.compile(r"RDD\[\d+\]")
_LAMBDA_ID = re.compile(r"(lambda \w+?)_\d+#")


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _masked(path: str) -> str | None:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return _PLAN_ID.sub("plan_id=N", f.read())


def _renumbered(plan: str) -> str:
    ids: dict[str, str] = {}
    plan = _LAMBDA_ID.sub(r"\1#", _RDD_ID.sub("RDD[N]", plan))
    return _EXPR_ID.sub(lambda m: ids.setdefault(m.group(), f"#{len(ids)}"), plan)


def compare(outdir: str, a: str, b: str) -> int:
    """Print one verdict per plan captured under either suffix; return
    the number of plans that are different or missing."""
    names = sorted({
        f[: -len(f"_{s}.txt")]
        for s in (a, b)
        for f in os.listdir(outdir)
        if f.endswith(f"_{s}.txt")
    })
    bad = 0
    for name in names:
        pa, pb = (_masked(os.path.join(outdir, f"{name}_{s}.txt")) for s in (a, b))
        if pa is None or pb is None:
            verdict = "missing"
        elif pa == pb:
            verdict = "identical"
        elif _renumbered(pa) == _renumbered(pb):
            verdict = "identical up to ids"
        else:
            verdict = "different"
        bad += verdict in ("missing", "different")
        print(f"{name}: {verdict}")
    return bad


def main():
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "plans", tag)
    if suffix == "compare":
        sys.exit(1 if compare(outdir, sys.argv[3], sys.argv[4]) else 0)
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    os.makedirs(outdir, exist_ok=True)

    from cogie_spark.queries import QUERIES
    from cogie_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")

    for name in ["q01_pricing_summary", "q04_enrich_join", "q08_range_join",
                 "q32_minhash_near_dup", "q24_ann_topk", "q10_vocab_topk"]:
        df = QUERIES[name](spark, sf_dir)
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(_fmt(df))
        print(f"captured {name}")

    # corpus-clean kept view
    from cogie_spark.plans.corpus import CorpusConfig, clean_corpus

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    kept = clean_corpus(docs, CorpusConfig())["kept"]
    with open(os.path.join(outdir, f"corpus_clean_{suffix}.txt"), "w") as f:
        f.write(_fmt(kept))
    print("captured corpus_clean")

    # flagship stage plans on a small fixture (500 groups keeps the
    # eager pipeline actions cheap; plan SHAPE is size-independent)
    from cogie_spark.fixtures.codefiles import code_files
    from cogie_spark.plans.linkage import LinkageConfig, run_linkage

    fixture = os.path.join("/tmp", "cogie_plancap_g500")
    if not os.path.exists(os.path.join(fixture, "_SUCCESS")):
        code_files(spark, n_groups=500, seed=42).write.mode("overwrite").parquet(fixture)
    files = spark.read.parquet(fixture)
    with run_linkage(files, LinkageConfig()) as out:
        for key in ["pairs", "scored", "clusters"]:
            with open(os.path.join(outdir, f"flagship_{key}_{suffix}.txt"), "w") as f:
                f.write(_fmt(out[key]))
            print(f"captured flagship_{key}")
    spark.stop()


if __name__ == "__main__":
    main()
