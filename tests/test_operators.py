"""Unit tests for the training-data operator library: textstats, dedup,
ANN, spans, vocab, hashing invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cogie_spark.io.tableio import RunScope
from cogie_spark.operators.cc import CheckpointHandle


def test_lang_id_accuracy(spark):
    # note: the driver's documents.lang column labels synthetic English-
    # ish token soup, so it is NOT linguistic ground truth; test the
    # heuristic on real-language sentences instead
    from cogie_spark.operators.textstats import lang_id

    rows = [
        ("en", "the cat sat on a mat and looked to the door for a while"),
        ("de", "der hund ist mit einem ball und die katze ist zu haus"),
        ("fr", "le chien est dans la maison et les chats sont pour un moment"),
        ("es", "el perro y los gatos es una casa por la manana"),
        ("und", "zzz qqq xxx yyy www"),
    ]
    df = spark.createDataFrame(rows, ["lang", "text"])
    pred = df.select("lang", lang_id("text").alias("pred")).collect()
    for r in pred:
        assert r["lang"] == r["pred"], (r["lang"], r["pred"])


def test_quality_features_bounds(spark):
    from cogie_spark.operators.textstats import quality_features

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    qf = quality_features(d).select("punct_ratio", "digit_ratio", "quality_score").collect()
    for r in qf:
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["digit_ratio"] <= 1.0
        assert 0.0 <= r["quality_score"] <= 1.0


def test_simhash_similar_docs_close(spark):
    from cogie_spark.functions.hashing import simhash64
    from cogie_spark.functions.text import tokens

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated content here"),
        ],
        ["id", "text"],
    )
    sh = df.select("id", simhash64(tokens("text"), bits=64).alias("simhash")).collect()
    vals = {r["id"]: r["simhash"] for r in sh}

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & (2**64 - 1)).count("1")

    # similar docs have closer simhash
    assert hamming(vals[1], vals[2]) < hamming(vals[1], vals[3])


def test_bio_decode_matches_reference_semantics(spark):
    """Cases from the reference's _bio_tag_to_spans
    (/root/reference/cogie/toolkit/ner/ner_toolkit.py:212-229): I after O
    starts a span; label change inside I starts a new span."""
    from cogie_spark.operators.spans import tag_spans_decode

    rows = [
        (0, 0, 0, "a", "B-PER"), (0, 0, 1, "b", "I-per"), (0, 0, 2, "c", "O"),
        (0, 0, 3, "d", "I-LOC"),            # I after O -> new LOC span
        (0, 0, 4, "e", "I-ORG"),            # label change -> new ORG span
        (0, 0, 5, "f", "B-ORG"),            # B always new
    ]
    df = spark.createDataFrame(rows, "doc_id long, sent_id long, pos long, token string, tag string")
    spans = {(r["label"], r["start"], r["end"]) for r in tag_spans_decode(df, scheme="bio").collect()}
    # the reference lowercases the whole tag, so 'I-per' CONTINUES the
    # 'B-PER' span and all emitted labels are lowercase (ADVICE r2 #1)
    assert spans == {("per", 0, 2), ("loc", 3, 4), ("org", 4, 5), ("org", 5, 6)}


def test_vocab_encode_roundtrip(spark):
    from cogie_spark.operators.vocab import build_vocab, encode_tokens

    df = spark.createDataFrame([(1, "a b c a"), (2, "b b d")], ["id", "text"])
    vocab = build_vocab(df, "text", min_freq=1, n_special=2)
    v = {r["word"]: r["idx"] for r in vocab.collect()}
    # b has count 3 -> idx 2 (first after specials); a count 2 -> 3; c,d count 1 -> 4,5 alpha
    assert v == {"b": 2, "a": 3, "c": 4, "d": 5}
    enc = encode_tokens(df, vocab, "text")
    got = {r["id"]: r["token_ids"] for r in enc.collect()}
    assert got[1] == [3, 2, 4, 3]
    assert got[2] == [2, 2, 5]


def test_winnow_shared_fingerprints(spark):
    """Documents sharing a long substring share winnow fingerprints."""
    from cogie_spark.operators.textstats import winnow_fingerprints

    common = "the common shared middle section of considerable length here"
    df = spark.createDataFrame(
        [(1, "prefix one " + common), (2, "totally other start " + common)],
        ["id", "text"],
    )
    fp = df.select("id", winnow_fingerprints("text").alias("fp")).collect()
    s1, s2 = (set(r["fp"]) for r in sorted(fp, key=lambda r: r["id"]))
    assert len(s1 & s2) > 0


def test_stable_id_and_h64_determinism(spark):
    from cogie_spark.functions.hashing import h64

    df = spark.createDataFrame([("x", "y"), ("x", "y")], ["a", "b"])
    r = df.select(h64(F.col("a")).alias("h")).collect()
    assert r[0] == r[1]


def test_multimodal_features_and_quarantine(spark):
    from cogie_spark.operators.multimodal import extract_features, frame_sample, synthetic_media

    media = synthetic_media(spark, n=64)
    feats = extract_features(media).cache()
    assert feats.count() == 64
    ok = feats.filter("decode_error IS NULL")
    bad = feats.filter("decode_error IS NOT NULL")
    assert bad.count() == 64 // 11 + (1 if 0 % 11 == 0 else 0)  # i % 11 == 0 rows
    row = ok.first()
    assert len(row["feature"]) == 16
    assert abs(sum(row["feature"]) - 1.0) < 1e-9
    feats.unpersist()
    # frame sampling: n_frames=100+i, every 10th
    fs = frame_sample(media, every_n=10)
    m0 = fs.filter("media_id = 'm0000'").count()
    assert m0 == 10  # frames 0,10,...,90 for n_frames=100


def test_feature_functions_match_reference_quota_math(spark):
    """F4 quota math (el_toolkit.py:217-230)."""
    from cogie_spark.functions.features import context_window

    df = spark.createDataFrame(
        [
            (list("abcdefgh"), list("xy")),   # left long, right short
            (list("ab"), list("uvwxyz")),     # left short, right long
            ([], list("pqrs")),               # empty left
        ],
        "l array<string>, r array<string>",
    )
    got = df.select(context_window("l", "r", 6).alias("w")).collect()
    # max_len=6, half=3: row1 right gives 2, left gets 3+(3-2)=4 -> tail 'efgh'
    assert (got[0]["w"]["left"], got[0]["w"]["right"]) == (list("efgh"), list("xy"))
    # row2: left gives 2, right gets 3+1=4 -> head 'uvwx'
    assert (got[1]["w"]["left"], got[1]["w"]["right"]) == (list("ab"), list("uvwx"))
    # row3: left empty, right gets full 6 but only 4 exist
    assert (got[2]["w"]["left"], got[2]["w"]["right"]) == ([], list("pqrs"))


def test_embedding_near_dup_lsh_equals_exact_and_no_cartesian(spark):
    """The banded-LSH near-dup path must (a) reproduce the brute-force
    output at the verify threshold with wide banding, (b) plan a bucket
    equi-join, never a cartesian/nested-loop product."""
    from cogie_spark.operators.dedup import embedding_near_duplicates

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = embedding_near_duplicates(emb, threshold=0.4, mode="exact")
    lsh = embedding_near_duplicates(emb, threshold=0.4, mode="lsh", bands=32, rows_per_band=2)
    e = {(r["left_id"], r["right_id"], r["cosine"]) for r in exact.collect()}
    l = {(r["left_id"], r["right_id"], r["cosine"]) for r in lsh.collect()}
    assert e == l and e, f"lsh != exact: missing={e - l} extra={l - e}"

    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_simhash_near_dup_no_cartesian(spark):
    """The hamming<=k pair search must plan a chunk equi-join (exact by
    pigeonhole), never an all-pairs product."""
    from cogie_spark.operators.dedup import simhash_near_duplicates

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = simhash_near_duplicates(d, "doc_id", "text", bits=16, max_hamming=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert out.count() > 0


def test_lsh_band_codes_use_arrow_above_codegen_budget(spark):
    """Regression guard for the janino 64 KB failure: at dim 64 the
    banded plane projection must run as an Arrow UDF (ArrowEvalPython
    in the plan), not as an unrolled expression tree that silently
    de-compiles the whole stage."""
    from cogie_spark.operators.ann import lsh_band_table

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bt = lsh_band_table(emb, bands=16, rows_per_band=2)
    plan = bt._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan, plan[:500]
    # and the codes still match the pure-expression form on a few rows
    from cogie_spark.operators.ann import UNROLL_MAX_DIM, _plane_sign, plane_weights
    import pyspark.sql.functions as F

    few = emb.limit(5).select("vec_id", F.col("embedding").cast("array<double>").alias("_v"))
    v = F.col("_v")
    for b in (0, 7, 15):
        code = F.lit(0).cast("long")
        for r in range(2):
            code = code * 2 + _plane_sign(v, plane_weights(b * 2 + r, 64))
        expr_codes = {r["vec_id"]: r["c"] for r in few.select("vec_id", code.alias("c")).collect()}
        arrow_codes = {
            r["vec_id"]: r["band_hash"]
            for r in bt.filter(F.col("band_id") == b).join(few.select("vec_id"), "vec_id").collect()
        }
        assert expr_codes == arrow_codes, (b, expr_codes, arrow_codes)


def test_infer_dim_strict_rejects_ragged(spark):
    from cogie_spark.operators.ann import infer_dim

    ok = spark.createDataFrame([([1.0, 2.0],), ([3.0, 4.0],)], "embedding array<double>")
    assert infer_dim(ok, strict=True) == 2
    ragged = spark.createDataFrame([([1.0, 2.0],), ([3.0],)], "embedding array<double>")
    with pytest.raises(ValueError, match="ragged"):
        infer_dim(ragged, strict=True)


def test_arrow_cosine_null_embedding_is_null_not_nan(spark):
    """ADVICE r3 #2: both cosine backends must agree that a null input
    yields NULL — NaN would sort ABOVE every real value in the desc()
    top-k window and a null embedding would rank first."""
    import numpy as np
    from pyspark.sql import functions as F

    from cogie_spark.functions.similarity import cosine_native

    dim = 40  # > the 32-dim unroll cap -> Arrow backend
    rows = [("a", [1.0] * dim), ("b", [0.5] * dim), ("n", None)]
    df = spark.createDataFrame(rows, "id string, v array<double>")
    probe = [1.0] * dim
    out = df.select(
        "id", cosine_native(F.col("v"), F.array(*[F.lit(x) for x in probe]), dim=dim).alias("cos")
    ).collect()
    got = {r["id"]: r["cos"] for r in out}
    assert got["n"] is None, f"null embedding produced {got['n']!r}, not NULL"
    assert abs(got["a"] - 1.0) < 1e-9
    # NULL ranks LAST under desc(), same as the expression path
    ranked = (
        df.select("id", cosine_native(F.col("v"), F.array(*[F.lit(x) for x in probe]), dim=dim).alias("cos"))
        .orderBy(F.desc("cos"))
        .collect()
    )
    assert ranked[-1]["id"] == "n"


def test_band_codes_arrow_null_and_empty_safe(spark):
    """ADVICE r3 #3: a null embedding must propagate as a NULL code
    array through the Arrow band-code path instead of failing np.stack;
    the explode then gives it no band rows."""
    from cogie_spark.operators.ann import lsh_band_table

    dim = 64
    rows = [(f"v{i}", [float((i * 7 + d) % 5) - 2.0 for d in range(dim)]) for i in range(6)]
    rows.append(("vnull", None))
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    # bands*rows_per_band*dim = 16*4*64 > CODEGEN_NODE_BUDGET -> Arrow path
    out = lsh_band_table(df, bands=16, rows_per_band=4, dim=dim)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan, plan[:500]
    got = out.collect()
    assert all(r["vec_id"] != "vnull" for r in got)
    for i in range(6):
        mine = [r for r in got if r["vec_id"] == f"v{i}"]
        assert sorted(r["band_id"] for r in mine) == list(range(16))
        assert all(r["band_hash"] is not None for r in mine)


def test_fbeta_label_domain_numeric_labels(spark):
    """ADVICE r3 #5: a list label_domain against a NUMERIC label column
    must not duplicate class rows via string-vs-int join mismatch."""
    from cogie_spark.operators.metrics import fbeta_by_class

    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2), (3, 3)], "gold int, pred int"
    )
    per = fbeta_by_class(df, "gold", "pred", label_domain=[1, 2, 3, 4])
    rows = per.collect()
    labels = sorted(r["label"] for r in rows)
    assert labels == [1, 2, 3, 4], labels  # one row per class, int-typed
    by = {r["label"]: r for r in rows}
    assert by[4]["tp"] == 0 and by[4]["pred_n"] == 0 and by[4]["true_n"] == 0
    assert by[1]["tp"] == 1 and by[1]["true_n"] == 2 and by[1]["pred_n"] == 1


def test_topk_dim_passthrough_no_double_probe(spark):
    """VERDICT r3 #6: brute_force_topk infers the vector width at most
    ONCE, and not at all when the caller passes dim=."""
    import cogie_spark.operators.ann as ann_mod

    dim = 8
    corpus = spark.createDataFrame(
        [(f"v{i}", [float((i + d) % 3) for d in range(dim)]) for i in range(20)],
        "vec_id string, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [("p0", [1.0] * dim)], "probe_id string, embedding array<double>"
    )

    calls = []
    orig = ann_mod.infer_dim

    def counting(df, vec_col="embedding", strict=False):
        calls.append(vec_col)
        return orig(df, vec_col, strict)

    ann_mod.infer_dim = counting
    try:
        ann_mod.brute_force_topk(corpus, probes, k=3).collect()
        n_inferred = len(calls)
        calls.clear()
        ann_mod.brute_force_topk(corpus, probes, k=3, dim=dim).collect()
        n_passed = len(calls)
    finally:
        ann_mod.infer_dim = orig
    assert n_inferred == 1, f"expected exactly one probe, saw {n_inferred}"
    assert n_passed == 0


def test_contamination_tags_hash_grams_equivalent(spark):
    """The xxhash64-gram join (the 100 TB byte-saving path) must tag the
    same documents as the exact-string join on real data, and the plan
    must broadcast the eval side (no shuffle of the training grams into
    a sort-merge join)."""
    from cogie_spark.operators.dedup import contamination_tags

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    train = d.filter("doc_id % 7 <> 2")
    ev = d.filter("doc_id % 7 = 2")

    exact = contamination_tags(train, ev, "doc_id", "text", n=4, hash_grams=False)
    hashed = contamination_tags(train, ev, "doc_id", "text", n=4, hash_grams=True)
    rows_e = {tuple(r) for r in exact.collect()}
    rows_h = {tuple(r) for r in hashed.collect()}
    assert rows_e == rows_h
    assert any(r[4] == 1 for r in rows_e), "fixture must contain contamination"
    # every training doc is tagged, contaminated or not
    assert len(rows_e) == train.count()

    plan = hashed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_cc_check_every_identical_clusters(spark):
    """check_every=2 (VERDICT r4 #7 cadence) must produce byte-identical
    components to the per-round fingerprint — extra rounds past the
    fixed point are idempotent, and cadence-apart fingerprints still
    detect it (the star potential is non-increasing)."""
    from cogie_spark.operators.cc import connected_components

    # a path graph (worst case for round count) + disjoint triangles
    ids = [f"n{i:03d}" for i in range(64)]
    edges = [(ids[i], ids[i + 1]) for i in range(49)] + [
        (ids[50 + 3 * j], ids[51 + 3 * j]) for j in range(4)
    ] + [(ids[51 + 3 * j], ids[52 + 3 * j]) for j in range(4)]
    df = spark.createDataFrame(edges, "left_id string, right_id string")

    # local_max_edges=0 pins the ITERATIVE star path on both sides —
    # this test is about the fingerprint cadence, not the fast path
    with RunScope() as scope:
        base = {
            tuple(r)
            for r in connected_components(
                df, local_max_edges=0, release_into=scope.checkpoints
            ).collect()
        }
        cadenced = {
            tuple(r)
            for r in connected_components(
                df, check_every=2, local_max_edges=0, release_into=scope.checkpoints
            ).collect()
        }
    assert base == cadenced
    # one 50-node path component + four 3-node components
    from collections import Counter

    sizes = Counter(c for _, c in base)
    assert sorted(sizes.values()) == [3, 3, 3, 3, 50]


def test_cc_local_fast_path_equivalent(spark):
    """The single-task union-find fast path (r6 optimization) must be
    row-identical to the iterative star rounds — same nodes, same
    min-id cluster labels — on a graph mixing a long path (worst case
    for star round count), triangles, and two-node components."""
    import random

    from cogie_spark.operators.cc import connected_components

    rng = random.Random(7)
    ids = [f"n{i:04d}" for i in range(400)]
    edges = [(ids[i], ids[i + 1]) for i in range(149)]        # long path
    edges += [(ids[150 + 3 * j], ids[151 + 3 * j]) for j in range(40)]
    edges += [(ids[151 + 3 * j], ids[152 + 3 * j]) for j in range(40)]
    edges += [(ids[300 + 2 * j], ids[301 + 2 * j]) for j in range(50)]
    rng.shuffle(edges)
    # duplicate + reversed edges exercise the distinct/orient seed
    edges += [(b, a) for a, b in edges[:30]]
    df = spark.createDataFrame(edges, "left_id string, right_id string")

    # release_into + explicit unpersist: this test must not leave
    # session-persisted checkpoint RDDs behind — the async ContextCleaner
    # would release them DURING a later test's persistent-RDD
    # before/after accounting (the midloop-failure test) and break it
    released: list = []
    fast = {tuple(r) for r in connected_components(df, release_into=released).collect()}
    star = {
        tuple(r)
        for r in connected_components(
            df, local_max_edges=0, release_into=released
        ).collect()
    }
    assert fast == star
    # long-ids (the near_dup_prune shape) keep their type through the
    # fast path's mapInPandas schema
    dfl = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "left_id long, right_id long"
    )
    got = connected_components(dfl, release_into=released)
    assert dict(got.dtypes) == {"file_id": "bigint", "cluster_id": "bigint"}
    assert {tuple(r) for r in got.collect()} == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)
    }
    for h in released:
        h.unpersist()


def test_cc_logs_which_path_ran(spark, caplog):
    """connected_components logs the path it took and the edge count its
    existing count() gave: one-task union-find at or under
    local_max_edges, iterative star rounds above it; with
    local_max_edges=0 no count is taken and the log says so."""
    import logging

    from cogie_spark.operators.cc import connected_components

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "left_id string, right_id string"
    )
    caplog.set_level(logging.INFO, logger="cogie_spark.operators.cc")
    released: list = []
    for limit in (1, 3, 0):
        connected_components(df, local_max_edges=limit, release_into=released).collect()
    for h in released:
        h.unpersist()
    assert [r.getMessage() for r in caplog.records if r.name == "cogie_spark.operators.cc"] == [
        "connected_components: iterative star rounds over 3 edges",
        "connected_components: one-task union-find over 3 edges",
        "connected_components: iterative star rounds (edges not counted)",
    ]


def test_cc_midloop_failure_releases_checkpoints(spark, monkeypatch):
    """Review regression: a failure DURING the CC loop (fingerprint
    collect, checkpoint job) must not strand this call's live
    localCheckpoint RDDs — under foreachBatch retries every failed
    attempt would otherwise leak one session-lifetime RDD (the prior
    regression test only simulated failure AFTER the gate returned)."""
    from cogie_spark.operators import cc as cc_mod

    ids = [f"n{i:03d}" for i in range(32)]
    edges = [(ids[i], ids[i + 1]) for i in range(31)]
    df = spark.createDataFrame(edges, "left_id string, right_id string")

    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())

    real_fp = cc_mod._fingerprint
    calls = {"n": 0}

    def failing_fp(frame):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected mid-loop failure")
        return real_fp(frame)

    monkeypatch.setattr(cc_mod, "_fingerprint", failing_fp)
    released: list = []
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected"):
        # iterative path pinned: the failure being injected lives in the
        # star loop's fingerprint, which the fast path never runs
        cc_mod.connected_components(df, release_into=released, local_max_edges=0)
    assert released == [], "no handle may escape a failed call"
    # ids, not a count: the context cleaner may drop other tests'
    # caches meanwhile
    left = set(rdds().keySet()) - before
    assert not left, f"mid-loop failure stranded localCheckpoint RDDs {sorted(left)}"


def test_ivf_train_determinism(spark):
    """The quantizer is deterministic: same corpus + seed -> identical
    centroids, so semantic_duplicates' lists are reproducible."""
    import numpy as np

    from cogie_spark.operators.ann import ivf_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = ivf_train(emb, nlist=8, seed=13)
    c2 = ivf_train(emb, nlist=8, seed=13)
    assert np.array_equal(c1, c2)


def test_ivf_lists_no_shuffle_and_null_safe(spark):
    """The centroid-list projection semantic_duplicates blocks on is ONE
    narrow Arrow projection (no Exchange in the plan) and NULL /
    wrong-width vectors get NULL lists instead of failing the batch."""
    import numpy as np

    from cogie_spark.operators.ann import _ivf_lists_arrow

    cents = np.eye(4, dtype=np.float64)[:3]  # 3 centroids, dim 4
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
         (3, None), (4, [1.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    lists = _ivf_lists_arrow(cents, nprobe=1, dim=4)
    out = df.withColumn("lists", lists(F.col("embedding")))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = {r["vec_id"]: r["lists"] for r in out.collect()}
    assert rows[1] == [0] and rows[2] == [1]
    assert rows[3] is None and rows[4] is None


def test_ivf_train_all_zero_sample_raises_value_error(spark):
    """An all-zero-vector corpus must fail ivf_train with the intended
    ValueError, not an argmax-of-empty numpy error (code-review r5)."""
    from cogie_spark.operators.ann import ivf_train

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no usable"):
        ivf_train(df, nlist=2, dim=3)


def test_semantic_duplicates_exact_end_and_no_cartesian(spark):
    """semantic_duplicates' exact end of the dial: assign_probes ==
    nlist puts every vector in every centroid list, so the output must
    EQUAL brute-force embedding_near_duplicates(mode='exact') — same
    rounding, same pairs. And the plan must never contain an all-pairs
    product."""
    from cogie_spark.operators.dedup import embedding_near_duplicates, semantic_duplicates

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = embedding_near_duplicates(emb, threshold=0.4, mode="exact")
    sem = semantic_duplicates(
        emb, threshold=0.4, nlist=8, assign_probes=8, seed=13, max_list_size=4096
    )
    e = {tuple(r) for r in exact.collect()}
    s = {tuple(r) for r in sem.collect()}
    CheckpointHandle(sem).unpersist()
    assert s == e and e, f"semantic != exact: missing={e - s} extra={s - e}"

    plan_df = semantic_duplicates(
        emb, threshold=0.4, nlist=8, assign_probes=2, seed=13
    )
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    CheckpointHandle(plan_df).unpersist()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_semantic_duplicates_clustered_recall(spark):
    """On a clustered corpus (the regime SemDeDup targets) the top-2
    centroid assignment must recover every within-cluster near-dup
    pair: parity with brute force at partial assignment, where the
    quantizer's lists align with the planted clusters."""
    import numpy as np

    from cogie_spark.operators.dedup import embedding_near_duplicates, semantic_duplicates

    rng = np.random.default_rng(7)
    dim, rows = 16, []
    anchors = rng.normal(size=(4, dim))
    anchors /= np.linalg.norm(anchors, axis=1)[:, None]
    vid = 0
    for a in anchors:
        for _ in range(12):
            v = a + rng.normal(scale=0.03, size=dim)  # tight near-dup cloud
            rows.append((vid, (v / np.linalg.norm(v)).tolist()))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    exact = embedding_near_duplicates(emb, threshold=0.99, mode="exact")
    sem = semantic_duplicates(
        emb, threshold=0.99, nlist=4, assign_probes=2, train_size=48, seed=13
    )
    e = {tuple(r) for r in exact.collect()}
    s = {tuple(r) for r in sem.collect()}
    CheckpointHandle(sem).unpersist()
    assert e, "fixture must plant near-dup pairs"
    assert s == e, f"missing={e - s} extra={s - e}"


def _word_boundary_docs(spark):
    """60 long-token docs, each paired with a copy that lost 5 word
    boundaries: char-8-shingle Jaccard >= 0.9, word-gram similarity
    much lower (the adversarial near-dup corpus)."""
    import random

    rng = random.Random(3)
    stems = [
        "preprocessing", "tokenization", "deserialization", "orchestration",
        "parallelization", "checkpointing", "deduplication", "vectorization",
        "normalization", "regularization", "initialization", "synchronization",
        "quantization", "serialization", "partitioning",
    ]
    docs = []
    for i in range(60):
        words = [rng.choice(stems) + str(rng.randint(100, 999)) for _ in range(70)]
        base = " ".join(words)
        docs.append((2 * i, base))
        chars = list(base)
        spaces = [j for j, c in enumerate(chars) if c == " "]
        for j in rng.sample(spaces, 5):  # 5 word-boundary deletions
            chars[j] = ""
        docs.append((2 * i + 1, "".join(chars)))
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_fast_family_recall_on_word_boundary_edits(spark):
    """Adversarial recall bound for the 'fast' signature family
    (VERDICT r5 #6): word-boundary deletions between LONG tokens keep
    char-8-shingle Jaccard >= 0.9 (each deleted space perturbs ~14 of
    >1000 shingles) while destroying ~3 word-3-grams per edit — the
    documented pathological case where banding over word-gram
    signatures under-recalls relative to the char-shingle domain the
    threshold speaks. Pins the measured behavior: mode='portable'
    (char-shingle signatures) recalls ALL such pairs; mode='fast'
    recalls most but NOT all (0.783 at this fixed seed — the gap is
    real and stated in the operator docstring). Precision is exact for
    both (the char-shingle verify)."""
    from pyspark.sql import functions as F

    from cogie_spark.functions.text import char_shingles
    from cogie_spark.operators.dedup import minhash_near_duplicates

    df = _word_boundary_docs(spark)

    # ground truth: brute-force exact char-shingle Jaccard >= 0.9
    sh = df.select("doc_id", char_shingles("text", k=8).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("inter", F.size(F.array_intersect("a.sh", "b.sh")))
        .withColumn(
            "j", F.col("inter") / (F.size("a.sh") + F.size("b.sh") - F.col("inter"))
        )
        .filter("j >= 0.9")
        .select(F.col("a.doc_id").alias("l"), F.col("b.doc_id").alias("r"))
    )
    tp = {(r["l"], r["r"]) for r in truth.collect()}
    assert len(tp) == 60  # every planted mutation survives at char level

    recall = {}
    for mode in ("fast", "portable"):
        with RunScope() as caches:
            out = minhash_near_duplicates(
                df, id_col="doc_id", text_col="text", jaccard_threshold=0.9, mode=mode,
                release_into=caches,
            )
            got = {(r["left_id"], r["right_id"]) for r in out.collect()}
        assert not (got - tp), f"{mode}: emitted a pair below the exact threshold"
        recall[mode] = len(got & tp) / len(tp)

    assert recall["portable"] == 1.0, recall
    # the stated adversarial bound for the throughput family: strictly
    # below 1 here (the gap exists) but at least 0.7 (it degrades, not
    # collapses). Deterministic at this seed: observed 0.783.
    assert 0.7 <= recall["fast"] < 1.0, recall


def test_minhash_near_duplicates_releases_every_cache(spark):
    """release_into hands back every cache the near-dup path makes (the
    signature table and candidate_pairs' block table): once the caller
    unpersists them, no RDD persisted during the call is left. Ids, not
    a count, as in the no_leaked_rdds fixture."""
    from cogie_spark.operators.dedup import minhash_near_duplicates

    df = _word_boundary_docs(spark)
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())
    caches: list = []
    out = minhash_near_duplicates(
        df, id_col="doc_id", text_col="text", jaccard_threshold=0.9, release_into=caches
    )
    assert out.collect(), "fixture must yield near-dup pairs"
    assert caches
    for c in caches:
        c.unpersist()
    left = set(rdds().keySet()) - before
    assert not left, f"near-dup path left persisted RDDs {sorted(left)}"


@pytest.mark.parametrize("seed", range(1, 13))
def test_q32_matches_oracle_across_seeds(spark, tmp_path, seed):
    """q32 on the corpus benchmark's documents (reduced size, staged as
    documents.parquet) returns exactly the Python oracle's pairs, seed
    after seed: the benchmark checks its warm-up pass on one seed only,
    so a seed-dependent wrong answer would show there as one failed
    run."""
    from perfbench import pipelines as P
    from perfbench import workloads as W

    inp = P.CorpusInput(str(tmp_path), 150, seed)
    assert len(inp.expected) > 50  # q32's clones of doc_id < 50 + planted near-dups
    assert W.check_near_dups(P.corpus_near_dup(spark, inp), inp.expected) == []
