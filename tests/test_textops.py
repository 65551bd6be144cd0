"""Repetition filters (Gopher-style) and PII scrub — hand-computed
cases plus a pure-Python parity check of the sorted-run expressions."""

from __future__ import annotations

from cogie_spark.operators.pii import pii_counts, redact_pii
from cogie_spark.operators.textstats import repetition_features


def _one(spark, text, **kw):
    df = spark.createDataFrame([(text,)], "text string")
    return repetition_features(df, "text", **kw).first()


class TestRepetitionFeatures:
    def test_dup_lines_hand_case(self, spark):
        # 4 non-empty lines; "same line" occurs twice -> 2/4 duplicated,
        # char fraction = (9+9) / (9+9+5+9) = 18/32
        text = "same line\nother\nsame line\n\nlast line"
        r = _one(spark, text)
        assert r["dup_line_frac"] == 0.5
        assert r["dup_line_char_frac"] == round(18 / 32, 6)

    def test_no_duplicates(self, spark):
        r = _one(spark, "alpha beta gamma\ndelta epsilon zeta")
        assert r["dup_line_frac"] == 0.0
        assert r["dup_line_char_frac"] == 0.0
        assert r["dup_5gram_char_frac"] == 0.0

    def test_top_ngram_hand_case(self, spark):
        # tokens: [ab, cd, ab, cd, ab, cd, xx] -> 2-grams (6, overlapping):
        # "ab cd" x3, "cd ab" x2, "cd xx" x1 -> top covers 3*5=15 chars
        # of the normalized text "ab cd ab cd ab cd xx" (20 chars)
        text = "ab cd ab cd ab cd xx"
        r = _one(spark, text)
        assert r["top_2gram_char_frac"] == round(15 / 20, 6)

    def test_degenerate_repetition_capped(self, spark):
        # one token repeated: every 5-gram is identical -> dup char
        # coverage overflows the doc length and must cap at 1.0
        text = " ".join(["spam"] * 40)
        r = _one(spark, text)
        assert r["dup_5gram_char_frac"] == 1.0
        assert r["top_2gram_char_frac"] == 1.0

    def test_empty_and_single_line(self, spark):
        for text in ("", "only one line"):
            r = _one(spark, text)
            assert r["dup_line_frac"] == 0.0
            assert r["dup_line_char_frac"] == 0.0

    def test_realistic_doc_size_not_quadratic(self, spark):
        # regression guard for the HOF-inlining trap: a bare
        # F.get(array_sort(...), i) inside transform/filter re-sorts the
        # gram array PER ELEMENT (O(G^2 log G) per row — observed hang on
        # kilobyte docs before the arrays were staged as columns). 50
        # docs x ~1200 tokens completes in seconds when staged; the
        # quadratic form needs hours.
        import time

        base = "int foo_%d ( a , b ) { return a + b ; }\n"
        docs = [("".join(base % (i * 37 + j) for j in range(120)),) for i in range(50)]
        df = spark.createDataFrame(docs, "text string")
        t0 = time.time()
        rows = repetition_features(df, "text").select(
            "dup_line_frac", "top_3gram_char_frac", "dup_5gram_char_frac"
        ).collect()
        assert time.time() - t0 < 60, "repetition_features is per-element quadratic again"
        assert len(rows) == 50 and all(r["dup_line_frac"] == 0.0 for r in rows)

    def test_python_parity_random_docs(self, spark):
        # pure-Python re-implementation of the documented definitions,
        # run over deterministic pseudo-random docs
        import random

        rnd = random.Random(7)
        vocab = ["aa", "bb", "cc", "dd", "ee"]
        docs = [
            " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 30)))
            for _ in range(25)
        ]

        def py_top2(doc):
            toks = doc.split()
            grams = [" ".join(toks[i : i + 2]) for i in range(max(len(toks) - 1, 1))]
            from collections import Counter

            cnt = Counter(grams)
            # tie-break identical to array_max over struct(cnt, len):
            # max by (count, gram char length)
            c, l = max((c, len(g)) for g, c in cnt.items())
            return round(min(c * l / max(len(doc), 1), 1.0), 6)

        df = spark.createDataFrame([(d,) for d in docs], "text string")
        rows = repetition_features(df, "text").select("text", "top_2gram_char_frac").collect()
        for row in rows:
            assert row["top_2gram_char_frac"] == py_top2(row["text"]), row["text"]


class TestPII:
    def test_counts_and_redaction(self, spark):
        text = (
            "mail a.user+x@example.co.uk or call (555) 123-4567; "
            "host 10.0.255.7, ssn 123-45-6789, card 4111 1111 1111 1111"
        )
        df = spark.createDataFrame([(text,)], "text string")
        r = pii_counts(df, "text").first()
        assert r["email_count"] == 1
        assert r["ipv4_count"] == 1
        assert r["ssn_count"] == 1
        assert r["credit_card_count"] == 1
        # counts are independent per pattern on the original text: the
        # spaced card run also matches the phone shape
        assert r["phone_count"] >= 1
        assert r["pii_total"] >= 5

        red = redact_pii(df, "text").first()["text_redacted"]
        for tok in ("[EMAIL]", "[IPV4]", "[SSN]", "[CREDIT_CARD]", "[PHONE]"):
            assert tok in red, red
        # sequential chain: the SSN was consumed by [SSN], never [PHONE]
        assert "123-45-6789" not in red and "4567" not in red

    def test_non_pii_survives(self, spark):
        # dates, versions, plain integers, decimals must NOT be redacted
        text = "released 2026-08-18 v3.14.1, issue #12345, pi=3.14159, a@b"
        df = spark.createDataFrame([(text,)], "text string")
        r = pii_counts(df, "text").first()
        assert r["pii_total"] == 0, dict(r.asDict())
        assert redact_pii(df, "text").first()["text_redacted"] == text

    def test_ipv4_bounds(self, spark):
        df = spark.createDataFrame(
            [("256.1.1.1 and 1.2.3.4.5 but 192.168.0.1 ok",)], "text string"
        )
        assert pii_counts(df, "text").first()["ipv4_count"] == 1

    def test_plan_is_projection_only(self, spark):
        # the scrub pass must cost one narrow projection: no Exchange,
        # no Python evaluation nodes in the plan
        df = spark.createDataFrame([("x",)], "text string")
        plan = redact_pii(pii_counts(df, "text"), "text")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Python" not in plan


# ---------------------------------------------------------------- hypothesis
# Parity of the inline-safe zip-of-shifted-slices shingle/n-gram forms
# (functions/text.py) against the documented per-index semantics (the
# DuckDB-twin form in the docstrings). The rewrite's boundary behavior
# — text shorter than k, empty strings, whitespace-only input, short
# token arrays zipping as NULLs — is exactly what hypothesis shakes.
# ASCII alphabet: Java and Python diverge on unicode lower()/\s, and
# the construction being pinned is structural, not locale.
from hypothesis import given, settings
from hypothesis import strategies as st

_ascii_text = st.text(
    alphabet=st.sampled_from("ab x.\t\n  "),  # space-heavy: hits empty/short tokens
    max_size=30,
)


def _py_norm(s: str) -> str:
    import re

    return re.sub(r"\s+", " ", s.lower()).strip()


def _py_char_shingles(s: str, k: int) -> list[str]:
    t = _py_norm(s)
    out, seen = [], set()
    for i in range(max(len(t) - k + 1, 1)):
        sh = t[i : i + k]
        if sh not in seen:
            seen.add(sh)
            out.append(sh)
    return out


def _py_word_ngrams(s: str, n: int) -> list[str]:
    toks = _py_norm(s).split(" ")
    out, seen = [], set()
    for i in range(max(len(toks) - n + 1, 1)):
        g = " ".join(toks[i : i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


@settings(max_examples=12, deadline=None)
@given(st.lists(_ascii_text, min_size=1, max_size=25))
def test_shingle_ngram_zip_forms_match_reference(spark, texts):
    from pyspark.sql import functions as F

    from cogie_spark.functions.text import char_shingles, word_ngrams

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = df.select(
        char_shingles("text", k=4).alias("sh"),
        word_ngrams("text", n=2).alias("ng"),
    ).collect()
    for t, row in zip(texts, got):
        assert row["sh"] == _py_char_shingles(t, 4), repr(t)
        assert row["ng"] == _py_word_ngrams(t, 2), repr(t)


def test_repetition_features_null_text_is_zero(spark):
    """NULL-text rows are not 'maximally repetitive': every fraction is
    0.0 (code-review r5 — least(NULL, 1.0) skips the NULL operand and
    silently returned the 1.0 cap; dup_line_frac leaked NULL)."""
    df = spark.createDataFrame([(1, None), (2, "a b a b a b")], "id int, text string")
    r = {
        row["id"]: row
        for row in repetition_features(
            df, "text", top_ngram_ns=(2,), dup_ngram_ns=(2,)
        ).collect()
    }
    for c in ("dup_line_frac", "dup_line_char_frac", "top_2gram_char_frac", "dup_2gram_char_frac"):
        assert r[1][c] == 0.0, (c, r[1][c])
    assert r[2]["top_2gram_char_frac"] > 0.5  # the non-null row still measures


def test_q21_signature_matches_oracle_on_edge_texts(spark, tmp_path):
    """q21 computes MinHash through blocking.signature_table's portable
    family. On texts the driver's tables may not hold — empty,
    whitespace-only, NULL, shorter than the shingle width, exactly it —
    it must still equal its DuckDB oracle (the whole normalized string
    is then the single shingle, as in char_shingles)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cogie_spark.queries import ORACLES, QUERIES

    texts = ["", "   ", None, "a", "Ab\tC", "abcdefg", "abcdefgh", "Abc  defgh ijk", "héllo wörld"]
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        str(tmp_path / "documents.parquet"),
    )
    got = sorted(tuple(r) for r in QUERIES["q21_minhash_signature"](spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    want = sorted(con.execute(ORACLES["q21_minhash_signature"]).fetchall())
    assert got == want
