"""Composed corpus-cleaning plan: semantics on a hand corpus + the
one-scan fusion guarantee (all narrow stages collapse into the input's
single scan stage; the only exchanges are the exact-dedup hash agg and
its join)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from cogie_spark.plans.corpus import CorpusConfig, clean_corpus

GOOD = (
    "The compiler lowers each function into an intermediate form and then "
    "the optimizer rewrites that form before emitting machine code for the "
    "target architecture with careful attention to register pressure."
)
REPETITIVE = "spam ham " * 60
PII_DOC = (
    "Contact the release manager at release.manager@example.com or call "
    "555-867-5309 to rotate the signing key before the deadline arrives "
    "because the infrastructure team requires every rotation request in "
    "writing with a full justification attached to the ticket."
)


def _corpus(spark):
    rows = [
        (1, GOOD),
        (2, GOOD),  # exact duplicate of 1 -> deduped, min id kept
        (3, REPETITIVE),  # degenerate repetition -> gated out
        (4, PII_DOC),  # kept, but redacted
        (5, "x"),  # too short -> quality gate
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_clean_corpus_semantics(spark):
    out = clean_corpus(_corpus(spark), CorpusConfig())
    tagged = {r["doc_id"]: r for r in out["tagged"].collect()}
    assert set(tagged) == {1, 2, 3, 4, 5}  # audit view keeps every row
    assert tagged[1]["keep"] and tagged[4]["keep"]
    assert not tagged[3]["keep"]  # repetition gate
    assert not tagged[5]["keep"]  # quality gate
    assert tagged[4]["email_count"] == 1 and tagged[4]["pii_total"] >= 2

    kept = {r["doc_id"]: r for r in out["kept"].collect()}
    assert set(kept) == {1, 4}  # doc 2 deduped away, min id 1 survives
    assert "[EMAIL]" in kept[4]["text"] and "@" not in kept[4]["text"]
    assert kept[1]["text"] == GOOD  # no PII -> redaction is identity


def test_clean_corpus_single_scan_plan(spark, tmp_path):
    """All tagging/gating stages fuse into ONE scan of the parquet
    input; only the dedup agg + join shuffle. A plan with two input
    scans means a narrow stage broke fusion and the corpus would be
    read twice per extra stage at 100 TB."""
    path = str(tmp_path / "docs")
    _corpus(spark).write.parquet(path)
    docs = spark.read.parquet(path)

    out = clean_corpus(docs, CorpusConfig())
    # the audit view never shuffles at all
    tagged_plan = out["tagged"]._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", tagged_plan)) == 1, tagged_plan[:2000]
    assert "Exchange" not in tagged_plan, tagged_plan[:2000]

    kept_plan = out["kept"]._jdf.queryExecution().executedPlan().toString()
    # window-min dedup: still ONE scan; exactly one Exchange (the
    # content-hash partition for the window)
    assert len(re.findall(r"Scan parquet", kept_plan)) == 1, kept_plan[:3000]
    assert len(re.findall(r"Exchange", kept_plan)) == 1, kept_plan[:3000]
    assert out["kept"].select("doc_id").count() == 2


def test_kept_from_docs_equivalent_and_post_shuffle(spark, tmp_path):
    """The dedup-first kept builder (r6 optimization) is row-identical
    to kept_view over the tagged lineage, and its regex tagging sits
    ABOVE the one exchange (post-shuffle, cluster-wide) instead of
    being filter-pushed into the scan stage."""
    from cogie_spark.plans.corpus import _tag, kept_from_docs, kept_view

    path = str(tmp_path / "docs_eq")
    _corpus(spark).write.parquet(path)
    docs = spark.read.parquet(path)
    cfg = CorpusConfig()

    old = kept_view(_tag(docs, cfg), cfg, hash_col="_h")
    new = kept_from_docs(docs, cfg, hash_col="_h")
    assert old.columns == new.columns
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))

    # plan shape: the regexp projections must be between the Window and
    # the collect — i.e. the segment BELOW the Exchange carries no
    # regexp work (only the scan and the hash partitioning)
    plan = new._jdf.queryExecution().executedPlan().toString()
    # AQE prints "final plan\n== Initial Plan ==\n..." — assert on the
    # final-plan section only
    plan = plan.split("== Initial Plan ==")[0]
    below_exchange = plan[plan.index("Exchange"):]
    assert "regexp_replace" not in below_exchange, below_exchange[:2000]
    assert "regexp_replace" in plan[: plan.index("Exchange")], plan[:2000]


def test_clean_corpus_lang_gate(spark):
    df = spark.createDataFrame(
        [(1, GOOD), (2, "el equipo de la infraestructura no puede aprobar la "
                        "solicitud porque el proceso requiere una semana entera "
                        "de pruebas con los datos de la empresa y los clientes")],
        ["doc_id", "text"],
    )
    out = clean_corpus(df, CorpusConfig(langs=("en",)))
    kept = [r["doc_id"] for r in out["kept"].select("doc_id").collect()]
    assert kept == [1]
    langs = {r["doc_id"]: r["lang_pred"] for r in out["tagged"].collect()}
    assert langs[1] == "en" and langs[2] != "en"


def test_near_dup_prune_transitive_min_id(spark):
    """pairs -> transitive groups -> min-id representative; singletons
    survive; the audit table lists exactly the pruned members. Uses
    pairs= directly so the grouping/prune semantics are tested apart
    from any one pair generator."""
    from cogie_spark.plans.corpus import near_dup_prune

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 9)], ["doc_id", "text"]
    )
    # chain 1~2, 2~3 (transitive: one group {1,2,3}); 4 and 9 singleton
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["left_id", "right_id"])
    with near_dup_prune(docs, CorpusConfig(), pairs=pairs) as out:
        kept_ids = {r["doc_id"] for r in out["pruned"].collect()}
        audit = {(r["doc_id"], r["dup_group_id"]) for r in out["dup_groups"].collect()}
    assert kept_ids == {1, 4, 9}
    assert audit == {(2, 1), (3, 1)}


def test_near_dup_prune_minhash_end_to_end(spark):
    """Near-identical texts (one token edited) prune down to the min
    id through the real minhash pair generator."""
    from cogie_spark.plans.corpus import near_dup_prune

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a slow waltz in the garden under paper lanterns strung from trees"
    )
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base.replace("slow", "fast")),  # near-dup of 10
            (12, "completely different content about compiler register allocation"),
        ],
        ["doc_id", "text"],
    )
    with near_dup_prune(docs, CorpusConfig(), method="minhash", jaccard_threshold=0.6) as out:
        kept_ids = {r["doc_id"] for r in out["pruned"].collect()}
    assert kept_ids == {10, 12}
