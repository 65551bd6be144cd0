"""The corpus IDF: ``corpus_idf``'s own contract, the doc count
run_linkage hands it from the blocking precheck, and the run's Spark
actions all on the calling thread."""

from __future__ import annotations

import contextlib
import math
import threading
from collections import Counter

from pyspark.sql import functions as F

from cogie_spark.fixtures.codefiles import code_files
from cogie_spark.io.tableio import RunScope
from cogie_spark.operators.scoring import corpus_idf
from cogie_spark.plans.linkage import LinkageConfig, _link, prededup, run_linkage, signatures


def _docs(spark, texts):
    return spark.createDataFrame([(t,) for t in texts], "content string")


def test_corpus_idf_handed_n_docs_equals_counted(spark):
    """Handing the row count gives the dict the counted form builds,
    key order included."""
    rows = code_files(spark, n_groups=20, seed=3)
    counted = corpus_idf(rows)
    handed = corpus_idf(rows, n_docs=rows.count())
    assert len(counted) > 50
    assert list(handed.items()) == list(counted.items())


def test_corpus_idf_max_terms_keeps_top_df_then_term(spark):
    """The cap keeps the terms of highest df, ties broken by the term,
    and the weights are log(N/df) + 1."""
    rows = _docs(spark, ["b a c", "A b", "a d", "e c", "z y"])
    # df: a 3, b 2, c 2, then d e y z 1
    idf = corpus_idf(rows, max_terms=4)
    assert list(idf) == ["a", "b", "c", "d"]
    assert idf["a"] == math.log(5 / 3) + 1.0
    assert idf["d"] == math.log(5 / 1) + 1.0
    full = corpus_idf(rows)
    assert list(full) == ["a", "b", "c", "d", "e", "y", "z"]


def test_corpus_idf_samples_above_target_with_denom_n_over_k(spark):
    """A handed n_docs above the 30,000 sample target takes the hashed
    sample 1/k of the docs (k = n_docs // 30,000) and weighs df against
    n_docs // k."""
    rows = _docs(spark, [f"w{i} w{i + 1} shared" for i in range(40)])
    n_docs = 3 * 30_000 + 7  # k = 3, denom = 30,002
    got = corpus_idf(rows, n_docs=n_docs)
    sample = [
        r.content for r in rows.filter(F.pmod(F.xxhash64("content"), F.lit(3)) == 0).collect()
    ]
    assert 0 < len(sample) < 40
    df = Counter(t for text in sample for t in set(text.split()))
    order = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
    want = {t: math.log(30_002 / n) + 1.0 for t, n in order}
    assert list(got.items()) == list(want.items())
    assert set(got) < set(corpus_idf(rows))


def test_corpus_idf_never_keys_empty_string(spark):
    """Empty, blank, NULL and space-padded contents never make "" a term."""
    rows = _docs(spark, ["", "   ", None, "  lead trail  ", "a\t\tb"])
    idf = corpus_idf(rows)
    assert "" not in idf
    assert set(idf) == {"lead", "trail", "a", "b"}


def _rep_count(files, cfg) -> int:
    with RunScope() as scope:
        reps, _ = prededup(files, cfg, scope)
        return reps.count()


def _edge_rows(spark):
    """Five rows, four distinct contents: one duplicate, an empty and a
    NULL content, and a NULL lang."""
    return spark.createDataFrame(
        [
            ("f1", "py", "def a(): return 1"),
            ("f2", "py", "def a(): return 1"),
            ("f3", "py", ""),
            ("f4", "py", None),
            ("f5", None, "x = 2"),
        ],
        "file_id string, lang string, content string",
    )


def test_block_rows_over_bands_is_the_rep_count(spark):
    """run_linkage hands corpus_idf ``n_block_rows // bands`` as its doc
    count: every rep, empty or NULL content and NULL lang included, has
    one signature and so exactly one block row per band. Holds for the
    link stream's handed batch signatures too."""
    cfg = LinkageConfig()
    for files in (code_files(spark, n_groups=30, seed=7), _edge_rows(spark)):
        with run_linkage(files, cfg) as out:
            n_block_rows = out["blocking_stats"]["n_block_rows"]
        assert n_block_rows % cfg.bands == 0
        assert n_block_rows // cfg.bands == _rep_count(files, cfg)
    # the stream's path: signatures of the whole batch, linked over part
    batch = code_files(spark, n_groups=30, seed=7)
    part = batch.filter(F.pmod(F.xxhash64("file_id"), F.lit(3)) != 0)
    with RunScope() as scope:
        sigs = scope.persist(signatures(batch, cfg))
        n_block_rows = _link(part, cfg, scope, batch_sigs=sigs)["blocking_stats"]["n_block_rows"]
    assert n_block_rows // cfg.bands == _rep_count(part, cfg)


def test_run_linkage_acts_on_the_calling_thread(spark, monkeypatch):
    """Every labelled Spark action of run_linkage runs on the caller's
    thread; the IDF takes no count job and one vocabulary job; and warm
    passes over one fixture run the same number of jobs."""
    import cogie_spark.jobdesc as jobdesc

    seen: list[tuple[str, int]] = []
    real = jobdesc.job_desc

    @contextlib.contextmanager
    def recording(df_or_spark, desc):
        seen.append((desc, threading.get_ident()))
        with real(df_or_spark, desc):
            yield

    monkeypatch.setattr(jobdesc, "job_desc", recording)
    sc = spark.sparkContext
    files = code_files(spark, n_groups=40, seed=11).persist()
    files.count()
    jobs, labels = [], []
    try:
        for i in range(4):
            del seen[:]
            group = f"idf-thread-pass-{i}"
            sc.setJobGroup(group, group)
            with run_linkage(files) as out:
                out["clusters"].collect()
                out["scored"].count()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            labels.append([d for d, _ in seen])
            assert {t for _, t in seen} == {threading.get_ident()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        files.unpersist()
    for got in labels:
        assert "cogie:idf-ndocs" not in got
        assert got.count("cogie:idf-vocab") == 1
    # the first pass compiles and caches; the warm ones must agree
    assert jobs[1] > 0 and jobs[1:] == [jobs[1]] * 3
