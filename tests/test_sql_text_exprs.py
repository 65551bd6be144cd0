"""The wide expressions — MinHash signatures, bands, the
est-Jaccard sum and the corpus tag chain — are spelled as SQL text that
the JVM parses in one call. These tests pin what that must keep:
a build cost that does not grow with the expression's width, and the
result types the Column-API spelling had (a plain SQL ``64.0`` is a
DECIMAL, so a missing ``D`` suffix would show here)."""

from __future__ import annotations

import contextlib
import random
import threading

from pyspark.sql import functions as F

_DOCS = [
    (1, "The cat is on the mat.\nThe cat is on the mat.\nA dog."),
    (2, "Der Hund ist in dem Haus und die Katze ist mit ihm."),
    (3, "Call 555-123-4567 or write to someone@example.com about it now"),
    (4, None),
]


@contextlib.contextmanager
def _round_trips(spark):
    """Count the Py4J commands this thread sends while the block runs.
    Object releases from py4j's finalizer thread are not expression work."""
    client = spark.sparkContext._gateway._gateway_client
    send, me, calls = client.send_command, threading.get_ident(), [0]

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith("m\nd\n"):
            calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield calls
    finally:
        client.send_command = send


def _count(spark, build) -> int:
    build()  # warm: first calls may resolve JVM classes and methods
    with _round_trips(spark) as calls:
        build()
    return calls[0]


def test_wide_exprs_do_not_scale_with_width(spark):
    """Building the 64-permutation signature, 16-band and 64-term
    est-Jaccard expressions costs at most 1.5x the round-trips of the
    8 / 2-band / 8 builds. Measured: 198 -> 198, 94 -> 94 and 3 -> 3
    calls; built through the Column API they took 852 -> 4,996, 293 -> 1,567 and
    411 -> 3,267 (5.9x, 5.3x, 7.9x)."""
    from cogie_spark.operators.blocking import (
        bands_from_signatures,
        estimate_jaccard,
        signature_table,
    )

    files = spark.createDataFrame(
        [("a", "python", "def f(x): return x + 1")], "file_id string, lang string, content string"
    )
    sigs = signature_table(files, num_perm=64, mode="fast")

    def ratio(narrow, wide) -> float:
        return _count(spark, wide) / _count(spark, narrow)

    assert ratio(
        lambda: signature_table(files, num_perm=8, mode="fast"),
        lambda: signature_table(files, num_perm=64, mode="fast"),
    ) <= 1.5
    assert ratio(
        lambda: bands_from_signatures(sigs, bands=2, rows_per_band=4),
        lambda: bands_from_signatures(sigs, bands=16, rows_per_band=4),
    ) <= 1.5
    assert ratio(
        lambda: estimate_jaccard("a", "b", 8), lambda: estimate_jaccard("a", "b", 64)
    ) <= 1.5


def test_clean_corpus_build_round_trips(spark):
    """Building both clean_corpus views over a two-column frame takes
    1,290 round-trips here (the Column-API tag chain took 7,208); the
    ceiling is twice that. Each view is built on first access, so the
    count reads both."""
    from cogie_spark.plans.corpus import clean_corpus

    def _both():
        views = clean_corpus(docs)
        return views["tagged"], views["kept"]

    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    assert _count(spark, _both) <= 2 * 1290


def test_clean_corpus_kept_builds_only_kept(spark):
    """A caller that reads only ``kept`` pays for kept_from_docs alone
    (702 round-trips here): the tag chain of ``tagged`` (586 more) is
    not built until something reads it."""
    from cogie_spark.plans.corpus import clean_corpus, kept_from_docs

    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    assert _count(spark, lambda: clean_corpus(docs)["kept"]) <= _count(
        spark, lambda: kept_from_docs(docs)
    )


def test_estimate_jaccard_type_and_value(spark):
    """est_jaccard is a double for name and Column arguments alike and
    equals the positional agreement fraction."""
    from cogie_spark.operators.blocking import estimate_jaccard

    rng = random.Random(11)
    rows = [
        ([rng.randrange(3) for _ in range(16)], [rng.randrange(3) for _ in range(16)])
        for _ in range(20)
    ]
    df = spark.createDataFrame(rows, "a array<bigint>, b array<bigint>")
    got = df.select(
        estimate_jaccard("a", "b", 16).alias("by_name"),
        estimate_jaccard(F.col("a"), F.col("b"), 16).alias("by_col"),
        estimate_jaccard("a", "b", 8).alias("head8"),
    )
    assert [t for _, t in got.dtypes] == ["double"] * 3
    for (a, b), r in zip(rows, got.collect()):
        want = sum(x == y for x, y in zip(a, b)) / 16
        assert r["by_name"] == r["by_col"] == want
        assert r["head8"] == sum(x == y for x, y in zip(a[:8], b[:8])) / 8


_TAGGED_DTYPES = [
    ("doc_id", "bigint"),
    ("text", "string"),
    ("n_chars", "int"),
    ("n_tokens", "int"),
    ("mean_token_len", "double"),
    ("punct_ratio", "double"),
    ("digit_ratio", "double"),
    ("upper_ratio", "double"),
    ("stopword_ratio", "double"),
    ("quality_score", "double"),
    ("dup_line_frac", "double"),
    ("dup_line_char_frac", "double"),
    ("top_2gram_char_frac", "double"),
    ("email_count", "int"),
    ("ipv4_count", "int"),
    ("ssn_count", "int"),
    ("credit_card_count", "int"),
    ("phone_count", "int"),
    ("pii_total", "int"),
    ("_text_redacted", "string"),
    ("lang_pred", "string"),
    ("keep", "boolean"),
]


def test_clean_corpus_dtypes(spark):
    """Both views keep the tag chain's column types, column by column;
    ``kept`` swaps the redacted text in and drops the helper column."""
    from cogie_spark.plans.corpus import clean_corpus

    out = clean_corpus(spark.createDataFrame(_DOCS, "doc_id long, text string"))
    assert out["tagged"].dtypes == _TAGGED_DTYPES
    assert out["kept"].dtypes == [d for d in _TAGGED_DTYPES if d[0] != "_text_redacted"]
    assert {r["lang_pred"] for r in out["tagged"].collect()} == {"en", "de", "und"}
