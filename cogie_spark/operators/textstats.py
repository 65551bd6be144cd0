"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

All pure built-in expressions (JVM-side, whole-stage codegen) — these run
over every document at 100 TB scale, so no Python is allowed in the path.
Reference analogues: tokenizer toolkit
(/root/reference/cogie/toolkit/tokenize/tokenize_toolkit.py:52-55) and the
mention normalization in /root/reference/cogie/toolkit/el/el_toolkit.py:87-96.

The expressions here are SQL text, which the JVM parses in one
``F.expr`` call per column: the tag chain's folds and unrolled lists
would otherwise cost one Py4J round-trip per expression node, thousands
per plan, before the first job runs (functions/sqltext.py). Double literals carry the
``D`` suffix (a bare ``1.0`` is DECIMAL and would change a ratio's type),
and SQL lambdas name their variables ``x``/``y`` as PySpark names Python
lambdas, so the printed plans keep their spelling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cogie_spark.functions.sqltext import column_sql, ident, string_lit
from cogie_spark.functions.text import normalize_sql, normalize_text, tokens, tokens_sql

# tiny per-language function-word lists (public knowledge); the n-gram
# heuristic only needs the head of the Zipf curve
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "eine", "zu"],
    "fr": ["le", "la", "les", "et", "est", "de", "un", "une", "pour", "dans"],
    "es": ["el", "la", "los", "las", "y", "es", "de", "un", "una", "por"],
}


def token_count(text: Column | str) -> Column:
    """Whitespace token count (the BPE-ish regex variant is
    ``bpe_token_count``)."""
    return F.size(tokens(text))


def bpe_token_count(text: Column | str) -> Column:
    """Rough BPE-like token count: words + digit runs + punctuation runs
    counted separately via a tokenizing regex.
    DuckDB twin: len(regexp_extract_all(x, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0))


def stopword_hits(toks: str, lang: str) -> str:
    """SQL text: how many elements of the token array ``toks`` (SQL
    text) are function words of ``lang``."""
    words = ", ".join(map(string_lit, STOPWORDS[lang]))
    return f"size(filter({toks}, x -> x IN ({words})))"


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts;
    'und' (undetermined) when no list scores > 0.

    Expressed as a greatest-of-structs trick so it stays in codegen:
    max over array<struct<hits,prio,lang>> picks highest hits (ties ->
    first language in list order).
    """
    toks = tokens_sql(column_sql(text))
    n = len(STOPWORDS)
    entries = ", ".join(
        f"struct({stopword_hits(toks, lg)} AS hits, {n - i} AS prio, {string_lit(lg)} AS lang)"
        for i, lg in enumerate(STOPWORDS)
    )
    best = f"array_max(array({entries}))"
    return F.expr(f"CASE WHEN {best}.hits > 0 THEN {best}.lang ELSE 'und' END")


def _ratio(num: str, den: str) -> str:
    return f"round({num} / greatest({den}, 1), 6)"


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + composite score.

    Features: n_chars, n_tokens, mean token length, punctuation ratio,
    digit ratio, stopword(en) ratio, uppercase ratio. Composite score is
    a bounded [0,1] blend — the deterministic stand-in for a learned
    quality classifier.
    """
    t = ident(text_col)
    norm = normalize_sql(t)
    n_chars = f"length({norm})"
    n_toks = f"size({tokens_sql(t)})"
    punct_re, digit_re, upper_re = map(string_lit, (r"[a-z0-9\s]", "[^0-9]", "[^A-Z]"))
    punct = f"length(regexp_replace({norm}, {punct_re}, ''))"
    digit = f"length(regexp_replace({norm}, {digit_re}, ''))"
    upper = f"length(regexp_replace({t}, {upper_re}, ''))"
    feats = {
        "n_chars": n_chars,
        "n_tokens": n_toks,
        "mean_token_len": _ratio(n_chars, n_toks),
        "punct_ratio": _ratio(punct, n_chars),
        "digit_ratio": _ratio(digit, n_chars),
        "upper_ratio": _ratio(upper, f"length({t})"),
        "stopword_ratio": _ratio(stopword_hits(tokens_sql(t), "en"), n_toks),
    }
    score = (
        "round((1.0D - least(`punct_ratio` * 2, 0.5D) - least(`digit_ratio`, 0.3D))"
        " * least(`n_tokens` / 20.0D, 1.0D), 6)"
    )
    return df.withColumns({c: F.expr(e) for c, e in feats.items()}).withColumn(
        "quality_score", F.expr(score)
    )


def _neighbor_dup_flags(srt: str) -> str:
    """SQL text: per-position 'value occurs more than once' flags over
    the SORTED array column named ``srt``: element i is a duplicate
    occurrence iff it equals the previous or next element. Built
    exclusively from whole-array ops — every reference to the array
    sits in an ARGUMENT position (shifted slices zipped positionally),
    never inside a lambda body, so the flags stay O(n) per row even
    after an optimizer rule (filter pushdown substituting a ``keep``
    predicate, CollapseProject) inlines this expression somewhere the
    old index-probe form (``get(srt, i)`` in a transform body) degraded
    to per-element re-evaluation of the whole sort subtree —
    O(n^2 log n), the observed 330 ms/doc hang when clean_corpus
    filtered on these columns.

    SQL cannot alias an ``arrays_zip`` argument: the zipped fields are
    named after the column (``srt``) and by position (``1``, ``2``)."""
    s = ident(srt)
    n = f"size({s})"
    tail = f"greatest({n} - 1, 0)"
    null1 = "array(cast(NULL as string))"
    prev = f"concat({null1}, slice({s}, 1, {tail}))"
    nxt = f"concat(slice({s}, 2, {tail}), {null1})"
    flags = (
        f"transform(arrays_zip({s}, {prev}, {nxt}), "
        f"x -> coalesce(x.{s} = x.`1`, false) OR coalesce(x.{s} = x.`2`, false))"
    )
    # n == 0: the padded prev/next are [null] and would zip to one
    # spurious position
    return f"CASE WHEN {n} = 0 THEN cast(array() as array<boolean>) ELSE {flags} END"


def _top_run(srt: str) -> str:
    """SQL text: struct(cnt, len) of the most frequent element of the
    SORTED array column named ``srt`` (ties -> longer element, matching
    array_max over struct(cnt, len)) via ONE O(n) aggregate fold. The
    fold body references only the accumulator ``x`` and the element
    ``y``, so it is inline-safe like :func:`_neighbor_dup_flags` — and
    it replaces the run-boundary index arithmetic (starts/ends slices
    probing ``srt`` inside lambda bodies) that was not."""
    zero, one = "cast(0 as bigint)", "cast(1 as bigint)"
    init = (
        f"struct(cast(NULL as string) AS prev, {zero} AS cnt, {zero} AS best_cnt, "
        f"{zero} AS best_len)"
    )
    # fold the just-finished run (x.prev repeated x.cnt times) into the best
    clen = f"coalesce(cast(length(x.prev) as bigint), {zero})"
    better = (
        f"(x.prev IS NOT NULL AND (x.cnt > x.best_cnt OR "
        f"(x.cnt = x.best_cnt AND {clen} > x.best_len)))"
    )
    best_cnt = f"CASE WHEN {better} THEN x.cnt ELSE x.best_cnt END"
    best_len = f"CASE WHEN {better} THEN {clen} ELSE x.best_len END"
    same = "x.prev <=> y"
    merge = (
        f"(x, y) -> struct(y AS prev, "
        f"CASE WHEN {same} THEN x.cnt + {one} ELSE {one} END AS cnt, "
        f"CASE WHEN {same} THEN x.best_cnt ELSE {best_cnt} END AS best_cnt, "
        f"CASE WHEN {same} THEN x.best_len ELSE {best_len} END AS best_len)"
    )
    finish = f"x -> struct({best_cnt} AS cnt, {best_len} AS len)"
    return f"aggregate({ident(srt)}, {init}, {merge}, {finish})"


def _arr_sum(arr: str) -> str:
    return f"aggregate({arr}, cast(0 as bigint), (x, y) -> x + cast(y as bigint))"


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    top_ngram_ns: tuple[int, ...] = (2, 3),
    dup_ngram_ns: tuple[int, ...] = (5,),
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, table A1) —
    the standard 'remove degenerate repetitive documents' gate in a
    training-data pipeline. Pure built-in expressions (sorted-run trick:
    array_sort makes equal values adjacent, so duplicate membership and
    run lengths are neighbor comparisons), zero Python in the path.

    Adds:
      dup_line_frac        — fraction of non-empty lines occurring >1x
      dup_line_char_frac   — chars inside those duplicated lines / all
                             line chars
      top_{n}gram_char_frac — chars covered by the single most frequent
                             word n-gram / normalized chars
      dup_{n}gram_char_frac — chars covered by word n-grams occurring
                             >1x / normalized chars (overlapping
                             occurrences counted per-gram, the usual
                             upper-bound approximation)

    All fractions are in [0, 1] except dup_{n}gram_char_frac, which the
    overlap approximation can push above 1 on pathological inputs — cap
    at 1.0 like the published filter does.

    INLINE-SAFETY INVARIANT (the 100 TB consideration): every lambda
    body in this operator references ONLY its lambda arguments — never
    an outer array expression. Interpreted HOFs re-evaluate body
    subtrees PER ELEMENT, so a body reference to the sorted-gram array
    means re-sorting (and re-tokenizing) the document once per element:
    O(G² log G) per row, an observed hang on kilobyte documents. Column
    staging alone (the previous defense) is NOT sufficient — predicate
    pushdown substitutes the staged aliases straight into a downstream
    filter (e.g. clean_corpus's `keep` gate), rebuilding the quadratic
    form (observed: 330 ms/doc). Neighbor comparisons are therefore
    shifted-slice zips and the top-run scan is an aggregate fold, both
    of which keep every array reference in argument position; the
    staged columns remain as a constant-factor economy only.

    Each output column is SQL text, added with one ``withColumns`` per
    dependency level; the staged word n-gram arrays reuse
    ``word_ngrams``.
    """
    from cogie_spark.functions.text import word_ngrams

    t = ident(text_col)
    ns = sorted(set(top_ngram_ns) | set(dup_ngram_ns))
    lines = f"filter(transform(split({t}, '\\n'), x -> trim(x)), x -> x != '')"
    out = df.withColumn("_rl_lsrt", F.expr(f"array_sort({lines})")).withColumn(
        "_rl_lflags", F.expr(_neighbor_dup_flags("_rl_lsrt"))
    )
    lsrt, lflags = ident("_rl_lsrt"), ident("_rl_lflags")
    dup_lines = _arr_sum(f"transform({lflags}, x -> cast(x as int))")
    dup_line_chars = _arr_sum(
        f"zip_with({lsrt}, {lflags}, (x, y) -> CASE WHEN y THEN length(x) ELSE 0 END)"
    )
    all_line_chars = _arr_sum(f"transform({lsrt}, x -> length(x))")
    n_chars = f"cast(greatest(length({normalize_sql(t)}), 1) as bigint)"

    # NULL text: every fraction is 0.0 (a missing document is not a
    # repetitive one) — without the guard the NULL propagates into
    # least(NULL, 1.0), which SKIPS the NULL operand and silently
    # coerces the answer to the 1.0 cap (code-review r5 finding)
    def nz(e: str) -> str:
        return f"CASE WHEN {t} IS NULL THEN 0.0D ELSE {e} END"

    # the n-gram arrays are staged beside the line fractions, not beside
    # the line array: the plan then keeps its projection layering
    out = out.withColumns({
        "dup_line_frac": F.expr(nz(_ratio(dup_lines, f"cast(size({lsrt}) as bigint)"))),
        "dup_line_char_frac": F.expr(nz(_ratio(dup_line_chars, all_line_chars))),
        **{
            f"_rl_srt_{n}": F.array_sort(word_ngrams(text_col, n=n, distinct=False))
            for n in ns
        },
    })
    feats = {}
    for n in ns:
        srt = f"_rl_srt_{n}"
        if n in top_ngram_ns:
            top = _top_run(srt)
            feats[f"top_{n}gram_char_frac"] = nz(
                f"round(least(({top}.cnt * {top}.len) / {n_chars}, 1.0D), 6)"
            )
        if n in dup_ngram_ns:
            # chars of elements inside duplicated runs == sum over dup
            # runs of cnt x len (each of the run's cnt elements
            # contributes len once) — the documented per-gram
            # overlapping-occurrence upper bound, run-arithmetic-free
            dup_chars = _arr_sum(
                f"zip_with({ident(srt)}, {_neighbor_dup_flags(srt)}, (x, y) -> "
                "CASE WHEN y THEN cast(length(x) as bigint) ELSE cast(0 as bigint) END)"
            )
            feats[f"dup_{n}gram_char_frac"] = nz(
                f"round(least({dup_chars} / {n_chars}, 1.0D), 6)"
            )
    out = out.withColumns({c: F.expr(e) for c, e in feats.items()})
    return out.drop("_rl_lsrt", "_rl_lflags", *(f"_rl_srt_{n}" for n in ns))


def fingerprint(text: Column | str) -> Column:
    """Content fingerprint: md5 of normalized text (portable).

    The rolling-hash winnowing variant is ``winnow_fingerprints``.
    """
    return F.md5(normalize_text(text))


def winnow_fingerprints(text: Column | str, k: int = 8, window: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    min shingle-hash per sliding window of ``window`` consecutive k-gram
    hashes, deduplicated. Pure expressions: shingle hashes once, then a
    transform over window start positions taking array_min of a slice.
    """
    from cogie_spark.functions.hashing import base_hash28
    from cogie_spark.functions.text import char_shingles

    hashes = F.transform(char_shingles(text, k=k, distinct=False), base_hash28)
    n = F.greatest(F.size(hashes) - F.lit(window - 1), F.lit(1))
    # windowed minima as `window` shifted slices zipped + least():
    # inline-safe (see repetition_features INLINE-SAFETY) — the previous
    # array_min(F.slice(hashes, i, window)) lambda body re-evaluated the
    # whole shingle-hash array per window position, O(n^2 k) per row.
    # least() skips the NULLs short tails zip to, matching array_min
    # over the shorter boundary slices.
    parts = [F.slice(hashes, 1 + j, n).alias(f"h{j}") for j in range(window)]
    mins = F.transform(
        F.arrays_zip(*parts),
        lambda s: F.least(*[s[f"h{j}"] for j in range(window)]),
    )
    return F.array_distinct(mins)
