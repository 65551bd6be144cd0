"""Round-2 operators: F-beta family, tuple metrics, tag-scheme decode,
ET thresholding — parity-tested against hand-computed
reference-formula values and a pure-Python reimplementation of the
reference decoders (/root/reference/cogie/core/metrics.py:419-505).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cogie_spark.operators.metrics import (
    bcubed,
    blocking_quality,
    fbeta_by_class,
    fbeta_summary,
    tuple_prf,
)
from cogie_spark.operators.spans import SCHEMES, tag_spans_decode
from cogie_spark.operators.typing import threshold_labels


def test_fbeta_by_class_hand_values(spark):
    # gold:  a a a b b c
    # pred:  a a b b c c
    # per class (reference FBetaMeasure counters):
    #   a: tp=2 pred_n=2 true_n=3 -> P=1.0   R=2/3  F1=0.8
    #   b: tp=1 pred_n=2 true_n=2 -> P=0.5   R=0.5  F1=0.5
    #   c: tp=1 pred_n=2 true_n=1 -> P=0.5   R=1.0  F1=2/3
    rows = [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "c"), ("c", "c")]
    df = spark.createDataFrame(rows, "target string, pred string")
    got = {r["label"]: r for r in fbeta_by_class(df, "target", "pred", beta=1.0).collect()}
    assert got["a"]["tp"] == 2 and got["a"]["pred_n"] == 2 and got["a"]["true_n"] == 3
    assert abs(got["a"]["precision"] - 1.0) < 1e-12
    assert abs(got["a"]["recall"] - 2 / 3) < 1e-12
    assert abs(got["a"]["fbeta"] - 0.8) < 1e-12
    assert abs(got["b"]["fbeta"] - 0.5) < 1e-12
    assert abs(got["c"]["recall"] - 1.0) < 1e-12
    assert abs(got["c"]["fbeta"] - 2 / 3) < 1e-12

    # beta=2 weights recall: F2(a) = 5*P*R/(4P+R) = 5*(2/3)/(4+2/3) = 10/14
    got2 = {r["label"]: r for r in fbeta_by_class(df, "target", "pred", beta=2.0).collect()}
    assert abs(got2["a"]["fbeta"] - 10 / 14) < 1e-12


def test_fbeta_zero_denominator_and_missing_class(spark):
    # class 'z' never predicted (pred_n=0 -> P=0, reference _prf_divide);
    # class 'y' predicted but never gold (true_n=0 -> R=0); tp=0 -> F=0
    rows = [("z", "y"), ("z", "y")]
    df = spark.createDataFrame(rows, "target string, pred string")
    got = {r["label"]: r for r in fbeta_by_class(df, "target", "pred").collect()}
    assert got["z"]["pred_n"] == 0 and got["z"]["precision"] == 0.0 and got["z"]["fbeta"] == 0.0
    assert got["y"]["true_n"] == 0 and got["y"]["recall"] == 0.0 and got["y"]["fbeta"] == 0.0


def test_fbeta_summary_modes(spark):
    rows = [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "c"), ("c", "c")]
    df = spark.createDataFrame(rows, "target string, pred string")
    per = fbeta_by_class(df, "target", "pred", beta=1.0)
    micro = fbeta_summary(per, average="micro").collect()[0]
    # micro: tp=4, pred_n=6, true_n=6 -> P=R=F=2/3
    assert abs(micro["precision"] - 4 / 6) < 1e-12
    assert abs(micro["fbeta"] - 4 / 6) < 1e-12
    macro = fbeta_summary(per, average="macro").collect()[0]
    assert abs(macro["precision"] - (1.0 + 0.5 + 0.5) / 3) < 1e-12
    weighted = fbeta_summary(per, average="weighted").collect()[0]
    # weights = true_n: (3*1 + 2*0.5 + 1*0.5)/6
    assert abs(weighted["precision"] - (3 * 1.0 + 2 * 0.5 + 1 * 0.5) / 6) < 1e-12


def test_tuple_prf_set_semantics(spark):
    schema = "doc_id long, s string, p string, o string"
    pred = spark.createDataFrame(
        [(0, "a", "r", "b"), (0, "a", "r", "b"), (0, "x", "r", "y")], schema
    )
    gold = spark.createDataFrame([(0, "a", "r", "b"), (1, "m", "r", "n")], schema)
    row = tuple_prf(pred, gold, ("doc_id", "s", "p", "o")).collect()[0]
    # distinct pred = 2, gold = 2, right = 1 -> P=R=F1=0.5
    assert row["pred_num"] == 2 and row["gold_num"] == 2 and row["right_num"] == 1
    assert abs(row["precision"] - 0.5) < 1e-12 and abs(row["f1"] - 0.5) < 1e-12


def test_tuple_prf_empty_pred(spark):
    schema = "doc_id long, s string, p string, o string"
    pred = spark.createDataFrame([], schema)
    gold = spark.createDataFrame([(0, "a", "r", "b")], schema)
    row = tuple_prf(pred, gold, ("doc_id", "s", "p", "o")).collect()[0]
    assert row["pred_num"] == 0 and row["precision"] == 0.0 and row["f1"] == 0.0


def test_threshold_labels_empty_and_sorted(spark):
    rows = [
        (1, "person", 0.9),
        (1, "artist", 0.55),
        (1, "place", 0.1),
        (2, "thing", 0.2),  # nothing clears threshold -> empty list
    ]
    df = spark.createDataFrame(rows, "mention_id long, type_label string, prob double")
    got = {r["mention_id"]: r for r in threshold_labels(df, ["mention_id"]).collect()}
    assert got[1]["types"] == ["artist", "person"] and got[1]["n_types"] == 2
    assert got[2]["types"] == [] and got[2]["n_types"] == 0


# ---- tag-scheme decode parity vs the reference state machines ----

def _ref_decode(tags: list[str], scheme: str) -> list[tuple[str, int, int]]:
    """Pure-Python reimplementation of the reference decoders
    (_bio/_bioes/_bmes/_bmeso_tag_to_spans, metrics.py:419-505)."""
    spec = SCHEMES[scheme]
    spans: list[list] = []
    prev = None
    for idx, tag in enumerate(tags):
        tag = tag.lower()  # the reference lowercases the WHOLE tag (metrics.py:425)
        pfx, label = tag[:1], tag[2:]
        if spec["o"] and pfx in spec["o"]:
            prev = pfx
            continue
        if (
            pfx in spec["cont"]
            and prev in spec["prev"]
            and spans
            and label == spans[-1][0]
        ):
            spans[-1][2] = idx
        else:
            spans.append([label, idx, idx])
        prev = pfx
    return [(s[0], s[1], s[2] + 1) for s in spans]


def test_tag_decode_all_schemes_match_reference(spark):
    from cogie_spark.queries import _TAG_FIXTURES

    for scheme, sents in _TAG_FIXTURES.items():
        rows = []
        expected = set()
        for s, tags in enumerate(sents):
            for p, tag in enumerate(tags):
                rows.append((0, s, p, f"t{s}_{p}", tag))
            for label, start, end in _ref_decode(tags, scheme):
                text = " ".join(f"t{s}_{p}" for p in range(start, end))
                expected.add((0, s, label, start, end, text))
        df = spark.createDataFrame(
            rows, "doc_id long, sent_id long, pos long, token string, tag string"
        )
        got = {
            (r["doc_id"], r["sent_id"], r["label"], r["start"], r["end"], r["text"])
            for r in tag_spans_decode(df, scheme=scheme).collect()
        }
        assert got == expected, f"{scheme}: {got ^ expected}"


def test_tag_decode_random_sequences(spark):
    """Property: on random (including malformed) tag sequences, every
    scheme's decode equals the reference state machine."""
    import random

    rng = random.Random(13)
    prefixes = {"bio": "BIO", "bioes": "BIOES", "bmes": "BMES", "bmeso": "BMESO"}
    # mixed-case labels: cross-case continuation ('B-PER' then 'I-per')
    # must continue one span, as the reference's whole-tag lower() does
    labels = ["PER", "per", "LOC", "ORG"]
    for scheme, pfx in prefixes.items():
        rows, expected = [], set()
        for s in range(8):
            tags = []
            for p in range(rng.randint(1, 12)):
                c = rng.choice(pfx)
                tags.append("O" if c == "O" else f"{c}-{rng.choice(labels)}")
            for p, tag in enumerate(tags):
                rows.append((0, s, p, f"t{s}_{p}", tag))
            for label, start, end in _ref_decode(tags, scheme):
                text = " ".join(f"t{s}_{p}" for p in range(start, end))
                expected.add((0, s, label, start, end, text))
        df = spark.createDataFrame(
            rows, "doc_id long, sent_id long, pos long, token string, tag string"
        )
        got = {
            (r["doc_id"], r["sent_id"], r["label"], r["start"], r["end"], r["text"])
            for r in tag_spans_decode(df, scheme=scheme).collect()
        }
        assert got == expected, f"{scheme}: {got ^ expected}"


def test_w2ner_decode_hand_case(spark):
    """Hand-computed W2NER grid (reference ner_toolkit.py:242-285):
    NNW chains 1->2->3 and 0->2; THW heads (1,{2,3}), (0,{2}), single
    word (4,4). Expected entities: [1,2] t5, [1,2,3] t2, [0,2] t3, [4] t4."""
    from cogie_spark.operators.w2ner import w2ner_decode, w2ner_decode_py

    cells = [
        (1, 2, 1), (2, 3, 1), (0, 2, 1),   # NNW upper triangle
        (3, 1, 2), (2, 0, 3), (4, 4, 4), (2, 1, 5),  # THW lower triangle
    ]
    expected = {("0-2", 3), ("1-2", 5), ("1-2-3", 2), ("4", 4)}
    assert set(w2ner_decode_py(cells)) == expected

    rows = [(0, 0, r, c, v) for r, c, v in cells]
    # second sentence: empty grid -> no entities
    rows.append((0, 1, 0, 0, 0))
    df = spark.createDataFrame(rows, "doc_id long, sent_id long, row int, col int, val int")
    got = {
        (r["sent_id"], r["indices"], r["entity_type"])
        for r in w2ner_decode(df).collect()
    }
    assert got == {(0, i, t) for i, t in expected}


def test_encode_tokens_duplicate_rows(spark):
    from cogie_spark.operators.vocab import build_vocab, encode_tokens

    df = spark.createDataFrame([("a b",), ("a b",)], "text string")
    vocab = build_vocab(df, "text", min_freq=1)
    out = encode_tokens(df, vocab).collect()
    assert len(out) == 2
    for r in out:
        assert len(r["token_ids"]) == 2, "duplicate rows must not double token ids"


def test_linkage_custom_id_col(spark):
    from cogie_spark.fixtures.codefiles import code_files
    from cogie_spark.plans.linkage import LinkageConfig, run_linkage

    files = code_files(spark, n_groups=6, seed=42).withColumnRenamed("file_id", "rec_id")
    with run_linkage(files, LinkageConfig(id_col="rec_id")) as out:
        clusters = out["clusters"]
        assert clusters.count() == files.count()
        assert set(clusters.columns) == {"file_id", "cluster_id"}


def test_fbeta_multilabel_hand_values(spark):
    # cells (instance, label, prob, gold):
    # label a: (0,a,.9,1) tp, (1,a,.2,1) fn, (2,a,.8,0) fp -> tp=1 pred=2 gold=2
    # label b: (0,b,.6,1) tp only -> P=R=F=1
    rows = [
        (0, "a", 0.9, 1), (1, "a", 0.2, 1), (2, "a", 0.8, 0),
        (0, "b", 0.6, 1),
    ]
    df = spark.createDataFrame(rows, "inst long, label string, prob double, gold int")
    from cogie_spark.operators.metrics import fbeta_multilabel

    got = {r["label"]: r for r in fbeta_multilabel(df, "label", "prob", "gold").collect()}
    assert got["a"]["tp"] == 1 and got["a"]["pred_n"] == 2 and got["a"]["true_n"] == 2
    assert abs(got["a"]["precision"] - 0.5) < 1e-12 and abs(got["a"]["fbeta"] - 0.5) < 1e-12
    assert got["b"]["fbeta"] == 1.0


def test_bcubed_hand_case(spark):
    # Classic Amigo et al. example shape: gold entities
    #   e1 = {1,2,3,4,5}, e2 = {6,7}, pred clusters c1 = {1,2,3,4,6},
    #   c2 = {5,7}.
    # Per record: P_i = |C∩T|/|C|, R_i = |C∩T|/|T|
    #   1-4: P=4/5 R=4/5  | 6: P=1/5 R=1/2
    #   5:   P=1/2 R=1/5  | 7: P=1/2 R=1/2
    clusters = spark.createDataFrame(
        [(i, "c1") for i in (1, 2, 3, 4, 6)] + [(i, "c2") for i in (5, 7)],
        "file_id int, cluster_id string",
    )
    truth = spark.createDataFrame(
        [(i, "e1") for i in (1, 2, 3, 4, 5)] + [(i, "e2") for i in (6, 7)],
        "file_id int, entity_id string",
    )
    row = bcubed(clusters, truth).collect()[0]
    exp_p = (4 * (4 / 5) + 1 / 5 + 1 / 2 + 1 / 2) / 7
    exp_r = (4 * (4 / 5) + 1 / 2 + 1 / 5 + 1 / 2) / 7
    assert row["n_records"] == 7
    assert abs(row["bcubed_precision"] - exp_p) < 1e-12
    assert abs(row["bcubed_recall"] - exp_r) < 1e-12
    f1 = 2 * exp_p * exp_r / (exp_p + exp_r)
    assert abs(row["bcubed_f1"] - f1) < 1e-12


def test_bcubed_perfect_and_random_parity(spark):
    import random

    # perfect clustering -> all three metrics exactly 1.0
    rows = [(i, f"e{i % 3}") for i in range(9)]
    truth = spark.createDataFrame(rows, "file_id int, entity_id string")
    perfect = truth.select("file_id", F.col("entity_id").alias("cluster_id"))
    row = bcubed(perfect, truth).collect()[0]
    assert row["bcubed_precision"] == 1.0 and row["bcubed_recall"] == 1.0

    # random instance vs a naive per-record Python computation
    rng = random.Random(7)
    n = 60
    t = {i: rng.randrange(8) for i in range(n)}
    c = {i: rng.randrange(10) for i in range(n)}
    exp_p = exp_r = 0.0
    for i in range(n):
        same_c = [j for j in range(n) if c[j] == c[i]]
        same_t = [j for j in range(n) if t[j] == t[i]]
        inter = len(set(same_c) & set(same_t))
        exp_p += inter / len(same_c)
        exp_r += inter / len(same_t)
    exp_p /= n
    exp_r /= n
    clusters = spark.createDataFrame(
        [(i, str(c[i])) for i in range(n)], "file_id int, cluster_id string"
    )
    truth = spark.createDataFrame(
        [(i, str(t[i])) for i in range(n)], "file_id int, entity_id string"
    )
    got = bcubed(clusters, truth).collect()[0]
    assert abs(got["bcubed_precision"] - exp_p) < 1e-9
    assert abs(got["bcubed_recall"] - exp_r) < 1e-9


def test_blocking_quality_hand_case(spark):
    # 6 records; true matches {1-2, 3-4, 5-6}; blocker emitted
    # (2,1) dup/reversed, (3,4), (1,5) false, (2,6) false -> 4 distinct
    # candidates covering 2 of 3 true pairs.
    cand = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 4), (1, 5), (2, 6)], "left_id int, right_id int"
    )
    lab = spark.createDataFrame(
        [(1, 2, True), (4, 3, True), (5, 6, True), (1, 3, False)],
        "left_id int, right_id int, is_match boolean",
    )
    row = blocking_quality(cand, lab, n_records=6).collect()[0]
    assert row["n_candidates"] == 4
    assert row["n_true_pairs"] == 3
    assert row["n_true_found"] == 2
    assert abs(row["pair_completeness"] - 2 / 3) < 1e-12
    assert abs(row["reduction_ratio"] - (1 - 4 / 15)) < 1e-12
