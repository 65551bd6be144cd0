"""Scorer unit tests against reference formulas (DuckDB's implementations
serve as the independent oracle for jaro-winkler / levenshtein)."""

from __future__ import annotations

import duckdb
import pytest

from cogie_spark.functions.similarity import (
    _levenshtein,
    jaro_winkler_py,
    token_set_ratio_py,
)

CASES = [
    ("martha", "marhta"),
    ("dixon", "dicksonx"),
    ("", ""),
    ("abc", ""),
    ("abc", "abc"),
    ("kitten", "sitting"),
    ("the quick brown fox", "the quick brown fox"),
    ("def parse(x): return x", "def parse(y): return y"),
]


@pytest.mark.parametrize("a,b", CASES)
def test_jaro_winkler_matches_duckdb(a, b):
    got = jaro_winkler_py(a, b)
    want = duckdb.sql(f"SELECT jaro_winkler_similarity('{a}', '{b}')").fetchone()[0]
    assert got == pytest.approx(want, abs=1e-9)


@pytest.mark.parametrize("a,b", CASES)
def test_levenshtein_matches_duckdb(a, b):
    if not a or not b:
        return  # duckdb levenshtein errors on empty in some versions
    got = _levenshtein(a, b)
    want = duckdb.sql(f"SELECT levenshtein('{a}', '{b}')").fetchone()[0]
    assert got == want


def test_token_set_ratio_properties():
    assert token_set_ratio_py("a b c", "c b a") == 1.0  # order-free
    assert token_set_ratio_py("a b c", "a b c c c") == 1.0  # multiset-free
    assert token_set_ratio_py("", "") == 1.0
    assert 0.0 <= token_set_ratio_py("alpha beta", "gamma delta") < 0.6


def test_pandas_udfs_run(spark):
    from cogie_spark.functions.similarity import jaro_winkler

    df = spark.createDataFrame([("martha", "marhta"), ("abc", "xyz")], ["a", "b"])
    out = df.select(jaro_winkler("a", "b").alias("jw")).collect()
    assert out[0]["jw"] == pytest.approx(0.9611111111111111)
    assert out[1]["jw"] < 0.6


def test_token_set_ratio_native_matches_python(spark):
    """Property test: the JVM expression form equals token_set_ratio_py
    on whitespace-normalized strings (the scorer's input contract)."""
    import random

    from pyspark.sql import functions as F

    from cogie_spark.functions.similarity import token_set_ratio_native

    rng = random.Random(7)
    vocab = ["def", "return", "x", "y", "parse", "self", "import", "os", "alpha", "beta"]
    rows = [("", ""), ("a b c", "c b a"), ("", "a b")]
    for _ in range(60):
        a = " ".join(rng.choices(vocab, k=rng.randint(0, 12)))
        b = " ".join(rng.choices(vocab, k=rng.randint(0, 12)))
        rows.append((a, b))
    df = spark.createDataFrame(rows, ["a", "b"])
    got = df.select("a", "b", token_set_ratio_native("a", "b").alias("ts")).collect()
    for r in got:
        assert r["ts"] == pytest.approx(token_set_ratio_py(r["a"], r["b"]), abs=1e-12), (
            r["a"], r["b"])


def test_tfidf_cosine_batch_bit_identical_to_row_oracle():
    """The batch-vectorized TF-IDF cosine must be BIT-identical to the
    per-row dict-loop oracle: the group ordering (per-row first token
    occurrence) and np.add.at accumulation reproduce the loop's exact
    float addition order."""
    import math
    import random

    import numpy as np

    from cogie_spark.functions.similarity import (
        tfidf_cosine_batch,
        tfidf_cosine_row,
    )

    rng = random.Random(13)
    vocab = [
        "def", "return", "x", "y", "parse", "self", "import", "os",
        "alpha", "beta", "γ", "naïve", "a" * 40,
    ]
    idf = {t: math.log(10 / (i + 1)) + 1.0 for i, t in enumerate(vocab[:8])}

    def mk(k):
        return " ".join(rng.choices(vocab, k=k))

    rows = [
        ("", ""), (None, None), ("", "def x"), ("def x", ""),
        ("def def def", "def"), ("x  y\t z", "z y x"),
        ("a b", "c d"), ("alpha", "alpha"),
    ]
    for _ in range(300):
        rows.append((mk(rng.randint(0, 60)), mk(rng.randint(0, 60))))
    av = np.array([r[0] for r in rows], dtype=object)
    bv = np.array([r[1] for r in rows], dtype=object)
    for idf_map in (None, idf):
        got = tfidf_cosine_batch(av, bv, idf_map)
        for i, (a, b) in enumerate(rows):
            want = tfidf_cosine_row(a, b, idf_map)
            assert got[i] == want, (a, b, got[i], want, idf_map is not None)


def test_tfidf_cosine_batch_zero_weight_vectors():
    """Tokens present but all weights zero -> 0.0 (the oracle's else
    branch), never a NaN from 0/0."""
    import numpy as np

    from cogie_spark.functions.similarity import (
        tfidf_cosine_batch,
        tfidf_cosine_row,
    )

    idf = {"x": 0.0, "y": 0.0}
    av = np.array(["x y", "x"], dtype=object)
    bv = np.array(["x y", "y"], dtype=object)
    got = tfidf_cosine_batch(av, bv, idf)
    assert list(got) == [tfidf_cosine_row("x y", "x y", idf), tfidf_cosine_row("x", "y", idf)]
    assert not np.isnan(got).any()


# ---------------------------------------------------------------- hypothesis
# Adversarial-input property tests for the two batch-vectorized scorers:
# hypothesis explores unicode planes, exotic whitespace, and repeated
# tokens that the seeded-random tests above cannot reach. Each batch
# kernel must stay BIT-identical to its per-row reference formula.
from hypothesis import given, settings
from hypothesis import strategies as st

_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)),  # any non-surrogate
    max_size=40,
)
_token_text = st.lists(
    st.text(alphabet=st.characters(blacklist_categories=("Cs", "Zs", "Zl", "Zp"),
                                   blacklist_characters="\t\n\r\x0b\x0c"),
            min_size=1, max_size=8),
    max_size=12,
).map(" ".join)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(_text, _text), min_size=1, max_size=30))
def test_jaro_winkler_batch_hypothesis(pairs):
    import numpy as np

    from cogie_spark.functions.similarity import jaro_winkler_batch, jaro_winkler_py

    av = np.array([p[0] for p in pairs], dtype=object)
    bv = np.array([p[1] for p in pairs], dtype=object)
    got = jaro_winkler_batch(av, bv)
    for i, (a, b) in enumerate(pairs):
        assert got[i] == jaro_winkler_py(a, b), (a, b)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.tuples(_token_text, _token_text), min_size=1, max_size=30),
    st.booleans(),
)
def test_tfidf_cosine_batch_hypothesis(pairs, use_idf):
    import numpy as np

    from cogie_spark.functions.similarity import tfidf_cosine_batch, tfidf_cosine_row

    idf = None
    if use_idf:
        vocab = {t for a, b in pairs for t in (a + " " + b).split()}
        idf = {t: 0.5 + (hash(t) % 13) / 4.0 for t in list(vocab)[::2]}
    av = np.array([p[0] for p in pairs], dtype=object)
    bv = np.array([p[1] for p in pairs], dtype=object)
    got = tfidf_cosine_batch(av, bv, idf)
    for i, (a, b) in enumerate(pairs):
        assert got[i] == tfidf_cosine_row(a, b, idf), (a, b, use_idf)


def test_tfidf_cosine_batch_nul_bytes():
    """Pinned hypothesis find: pd.factorize hashes object strings via a
    C-string table, so an embedded NUL truncates the key and '\\x00'
    vs '\\x000' conflated to cosine 1.0 (row oracle: 0.0). NUL rows now
    take the row-oracle path; clean rows in the same batch keep the
    vectorized result."""
    import numpy as np

    from cogie_spark.functions.similarity import tfidf_cosine_batch, tfidf_cosine_row

    av = np.array(["\x00", "a b", "x\x00y q", None], dtype=object)
    bv = np.array(["\x000", "a b", "x\x00y", "\x00"], dtype=object)
    got = tfidf_cosine_batch(av, bv)
    for i in range(len(av)):
        assert got[i] == tfidf_cosine_row(av[i] or "", bv[i] or ""), i
    assert got[0] == 0.0 and got[1] == 1.0
