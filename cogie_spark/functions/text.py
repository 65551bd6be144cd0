"""Text normalization / shingling / tokenization — built-in exprs only.

Mirrors the reference's feature builders (lowercase+join
/root/reference/cogie/toolkit/el/el_toolkit.py:92-96; WordPiece
sub-tokenization el_toolkit.py:209-233) with engine-portable equivalents:
whitespace tokens and character k-shingles. Shingles feed MinHash
(functions/hashing.py); tokens feed SimHash / TF-IDF / quality scoring.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cogie_spark.functions.sqltext import column_sql


def normalize_sql(x: str) -> str:
    """SQL text of :func:`normalize_text` over the SQL expression ``x``
    (the one definition; the text-stat expressions compose it)."""
    return f"trim(regexp_replace(lower({x}), '\\\\s+', ' '))"


def tokens_sql(x: str) -> str:
    """SQL text of :func:`tokens` over the SQL expression ``x``."""
    return f"split({normalize_sql(x)}, ' ')"


def normalize_text(col: Column | str) -> Column:
    """lower + collapse whitespace runs + trim.

    Portable DuckDB twin:
    trim(regexp_replace(lower(x), '\\s+', ' ', 'g'))
    """
    return F.expr(normalize_sql(column_sql(col)))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of normalized text (array<string>).

    DuckDB twin: string_split(<normalized>, ' ')
    """
    return F.expr(tokens_sql(column_sql(col)))


def char_shingles(col: Column | str, k: int = 8, distinct: bool = True) -> Column:
    """Character k-shingles of normalized text as array<string>.

    For text shorter than k, the whole string is the single shingle.
    DuckDB twin (identical semantics):
      list_distinct(list_transform(
          range(1, greatest(length(t)-k+2, 2)),
          i -> substring(t, i::INT, k)))

    INLINE-SAFE / LINEAR (same property as :func:`word_ngrams`): the
    old form called ``t.substr(i, k)`` inside the transform body, where
    ``t`` is the normalize_text subtree — interpreted HOFs re-evaluate
    body subtrees per element, so the document was re-normalized (three
    regexp passes) once PER SHINGLE: O(len^2) per row, measured 14x
    slower on the code fixture. Shingles are now k shifted slices of
    the char array zipped positionally; short tails zip as NULLs which
    concat_ws drops, reproducing the whole-string-single-shingle
    behavior for text shorter than k.
    """
    t = normalize_text(col)
    chars = F.split(t, "")
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    parts = [F.slice(chars, 1 + j, n).alias(f"c{j}") for j in range(k)]
    sh = F.transform(
        F.arrays_zip(*parts),
        lambda s: F.concat_ws("", *[s[f"c{j}"] for j in range(k)]),
    )
    return F.array_distinct(sh) if distinct else sh


def word_ngrams(col: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles (array<string>) — ~5x fewer elements than
    char shingles on code text; the pipeline's fast blocking feature.

    INLINE-SAFE / LINEAR construction: the gram array is built from n
    shifted slices of the token array zipped positionally, so every
    reference to the token array sits in an ARGUMENT position (evaluated
    once per row). The previous form sliced the token array inside the
    transform lambda BODY — interpreted HOFs re-evaluate body subtrees
    per element, so it re-tokenized the document once PER GRAM
    (measured 22x slower on 1.2k-token docs), and got quadratically
    worse when an optimizer rule (e.g. filter pushdown) inlined it.
    Short slices (j past the end) zip as NULLs, which concat_ws skips —
    reproducing the old slice-join behavior for size < n exactly."""
    toks = tokens(col)
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    shifted = [F.slice(toks, 1 + j, cnt).alias(f"g{j}") for j in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.concat_ws(" ", *[s[f"g{j}"] for j in range(n)]),
    )
    # empty token array -> one empty gram (the legacy boundary: the old
    # sequence(1, 1) form emitted concat_ws of an empty slice)
    grams = F.when(F.size(toks) == F.lit(0), F.array(F.lit(""))).otherwise(grams)
    return F.array_distinct(grams) if distinct else grams
