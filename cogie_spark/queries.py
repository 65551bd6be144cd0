"""Driver-contract query library: every operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable plus an ANSI-SQL DuckDB oracle twin.

Conventions that make the driver's order-insensitive value-hash match:
- every computed column aliased identically in Spark and SQL;
- money sums computed in DECIMAL(18,2) (exact, order-free) then cast to
  double and rounded;
- ratio/cosine outputs rounded to 6 decimals on both sides;
- hashing uses the engine-portable md5-based family (functions/hashing.py)
  so MinHash/SimHash values are bit-identical across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cogie_spark.functions.hashing import MINHASH_P, _perm_coeffs, h64, simhash64
from cogie_spark.functions.text import char_shingles, tokens
from cogie_spark.io.spread import spread_scan
from cogie_spark.operators.ann import brute_force_topk
from cogie_spark.operators.blocking import signature_table
from cogie_spark.operators.dedup import (
    embedding_near_duplicates,
    exact_duplicate_groups,
    minhash_near_duplicates,
)
from cogie_spark.operators.textstats import (
    STOPWORDS,
    bpe_token_count,
    fingerprint,
    lang_id,
    quality_features,
    token_count,
    winnow_fingerprints,
)
from cogie_spark.operators.vocab import build_vocab

# ------------------------------------------------------------------ helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # read plain — NO scan spread here. A round-6 interleaved A/B
    # measured a pre-spread repartition LOSING on every relational
    # shape tried: shuffle joins re-partition anyway (q08), and cheap
    # per-row aggregation/broadcast-probe work (q01/q04) costs less on
    # the row-group-bound scan than one extra full shuffle of the
    # table. spread_scan pays ONLY where heavy per-row compute
    # (regex/shingle/hash/cosine) is fused into a narrow scan — those
    # call sites opt in explicitly (q10/q24/q32, the corpus plan).
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# DuckDB-side text helpers (must mirror functions/text.py exactly)
_NORM = r"trim(regexp_replace(lower({x}), '\s+', ' ', 'g'))"
_TOKS = "string_split(" + _NORM + ", ' ')"


def _norm(x: str) -> str:
    return _NORM.format(x=x)


def _toks(x: str) -> str:
    return _TOKS.format(x=x)


def _shingles_sql(x: str, k: int = 8) -> str:
    n = _norm(x)
    return (
        f"list_distinct(list_transform(range(1, greatest(length({n}) - {k - 2}, 2)), "
        f"i -> substring({n}, i::INT, {k})))"
    )


def _h64_sql(e: str) -> str:
    return f"('0x' || substring(md5({e}), 1, 15))::BIGINT"


def _h28_sql(e: str) -> str:
    return f"('0x' || substring(md5({e}), 1, 7))::BIGINT"


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _money_sum(col: str, alias: str):
    return F.round(F.sum(F.col(col).cast("decimal(18,2)")).cast("double"), 2).alias(alias)


# =====================================================================
# Aggregations (SURVEY §2.4)
# =====================================================================

@q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_quantity < 50
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H Q1 shape: filtered grouped aggregation (A1/A11; pushdown-
    friendly filter reaches the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") < 50)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money_sum("l_quantity", "sum_qty"),
            _money_sum("l_extendedprice", "sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("n_rows"),
        )
    )


@q(
    "q16_rollup_qty",
    """
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q16(spark, sf_dir):
    """Two-level aggregation via ROLLUP (A5 micro/macro shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _money_sum("l_quantity", "sum_qty"), F.count("*").alias("n_rows")
    )


@q(
    "q13_confusion_matrix",
    """
    SELECT event_type AS target, CAST(floor(value / 2.5) AS BIGINT) AS pred, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q13(spark, sf_dir):
    """Confusion-matrix-style two-column count (A8;
    /root/reference/cogie/core/metrics.py:162-229)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("event_type").alias("target"),
        F.floor(F.col("value") / 2.5).cast("bigint").alias("pred"),
    ).agg(F.count("*").alias("n"))


@q(
    "q14_accuracy",
    """
    SELECT o.accuracy, m.macro_acc FROM
      (SELECT round(avg(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END), 6) AS accuracy
       FROM events) o
    CROSS JOIN
      (SELECT round(avg(acc), 6) AS macro_acc FROM (
         SELECT user_id, avg(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END) AS acc
         FROM events GROUP BY user_id)) m
    """,
)
def q14(spark, sf_dir):
    """A6 masked accuracy as avg(indicator) (metrics.py:231-292) + A7
    per-group accuracy -> unweighted macro mean
    (/root/reference/cogie/toolkit/el/el_toolkit.py:574-621), one row."""
    ev = _t(spark, sf_dir, "events")
    overall = ev.agg(
        F.round(F.avg(F.when(F.col("event_type") == "click", 1.0).otherwise(0.0)), 6).alias(
            "accuracy"
        )
    )
    per = ev.groupBy("user_id").agg(
        F.avg(F.when(F.col("event_type") == "click", 1.0).otherwise(0.0)).alias("acc")
    )
    macro = per.agg(F.round(F.avg("acc"), 6).alias("macro_acc"))
    return overall.crossJoin(macro)


# =====================================================================
# Joins (SURVEY §2.3)
# =====================================================================

@q(
    "q04_enrich_join",
    """
    SELECT l.l_orderkey, l.l_linenumber, p.p_name, s.s_name,
           round(l.l_extendedprice, 2) AS price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
)
def q04(spark, sf_dir):
    """J1 dict-lookup enrichment as broadcast hash joins
    (el_toolkit.py:131-143)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "p_name",
            "s_name",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


@q(
    "q05_left_join_unk",
    """
    SELECT o.o_orderkey, coalesce(c.c_mktsegment, 'unk') AS segment
    FROM orders o LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
    ON o.o_custkey = c.c_custkey
    """,
)
def q05(spark, sf_dir):
    """J2 left join with miss -> 'unk' (el_toolkit.py:136-142 wikipedia->
    wikidata miss handling; cognet.py:47-58)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", F.coalesce("c_mktsegment", F.lit("unk")).alias("segment")
    )


@q(
    "q06_membership_joins",
    """
    SELECT 'in' AS side, p_partkey AS keyval, p_name AS name
    FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
    UNION ALL
    SELECT 'out' AS side, c_custkey AS keyval, c_name AS name
    FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def q06(spark, sf_dir):
    """J9 semi-join membership (predictor.py:126-127 LU-dictionary) +
    J10 anti-join (vocabulary.py:156-159 new-words-only), one query
    tagged by side."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    semi = p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        F.lit("in").alias("side"), F.col("p_partkey").alias("keyval"), F.col("p_name").alias("name")
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("out").alias("side"), F.col("c_custkey").alias("keyval"), F.col("c_name").alias("name")
    )
    return semi.unionByName(anti)


@q(
    "q08_range_join",
    """
    SELECT o.o_orderpriority, count(*) AS n
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE date_diff('day', o.o_orderdate, l.l_shipdate) BETWEEN 0 AND 30
    GROUP BY o.o_orderpriority
    """,
)
def q08(spark, sf_dir):
    """J8 range-containment join (trex_ner.py:40-56 char-range -> word)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    dd = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter((dd >= 0) & (dd <= 30))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


# =====================================================================
# Windows / ranking (SURVEY §2.5)
# =====================================================================

@q(
    "q02_topk_argmax",
    """
    WITH topk AS (
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders) WHERE rk <= 3),
    best AS (SELECT o_custkey, min(o_orderkey) FILTER (WHERE rk = 1) AS best_order
             FROM topk GROUP BY o_custkey)
    SELECT t.o_custkey, t.o_orderkey, t.totalprice, t.rk, b.best_order
    FROM topk t JOIN best b ON t.o_custkey = b.o_custkey
    """,
)
def q02(spark, sf_dir):
    """W1 top-k per group (el_toolkit.py:528 scores.topk) + W2 argmax
    winner via max_by (el_toolkit.py:131-133,642) — each top-k row also
    carries its group's argmax winner."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    topk = (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rk")
    )
    best = o.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderkey, struct(o_totalprice, -o_orderkey))").alias("best_order")
    )
    return topk.join(best, "o_custkey")


@q(
    "q09_sessionize",
    """
    SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events FROM (
      SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) GROUP BY user_id
    """,
)
def q09(spark, sf_dir):
    """W5 sessionization: lag -> new-segment flag -> counts (the BIO
    span-decode shape, ner_toolkit.py:212-229)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; route through LTZ (session tz = UTC) to get
    # fractional epoch seconds identical to DuckDB's epoch()
    sec = F.col("ts").cast("timestamp_ltz").cast("double")
    prev = F.lag(sec).over(w)
    new_s = F.when(prev.isNull() | ((sec - prev) > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
    )


# =====================================================================
# Vocabulary / word stats (SURVEY §2.4 A1-A3, §2.2 P6)
# =====================================================================

@q(
    "q10_vocab_topk",
    f"""
    SELECT word, count, idx FROM (
      SELECT word, count, row_number() OVER (ORDER BY count DESC, word) + 1 AS idx FROM (
        SELECT word, count(*) AS count FROM (
          SELECT unnest({_toks('text')}) AS word FROM documents)
        WHERE word <> '' GROUP BY word HAVING count(*) >= 20))
    ORDER BY count DESC, word LIMIT 50
    """,
)
def q10(spark, sf_dir):
    """A1 word count + A2 top-k by frequency (vocabulary.py:115-124,152)
    + P6 min-freq HAVING + W7 dense index (vocabulary.py:144-165): the
    vocabulary dim table, top-50 by frequency."""
    # no spread: token explode + count is cheap per byte (relational
    # class) — the round-6 interleaved A/B measured the spread's extra
    # exchange as a consistent ~0.3 s loss at sf0.1, flat at sf1.0
    d = _t(spark, sf_dir, "documents")
    return (
        build_vocab(d, "text", min_freq=20, n_special=2)
        .orderBy(F.desc("count"), F.asc("word"))
        .limit(50)
    )


@q("q12_distinct_labels", "SELECT DISTINCT event_type AS label FROM events")
def q12(spark, sf_dir):
    """A3 distinct label domain (loader.py:10,30-33)."""
    return _t(spark, sf_dir, "events").select(F.col("event_type").alias("label")).distinct()


# =====================================================================
# Set ops / split (SURVEY §2.7)
# =====================================================================

@q(
    "q17_union_distinct",
    """
    SELECT n_nationkey AS nationkey FROM (
      SELECT c_nationkey AS n_nationkey FROM customer
      UNION SELECT s_nationkey FROM supplier)
    """,
)
def q17(spark, sf_dir):
    """U1 union + U2 distinct (preprocess_trex.py:23-42; ner_toolkit 283)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@q(
    "q18_hash_split",
    f"""
    SELECT {_h64_sql("CAST(c_custkey AS VARCHAR)")} % 5 AS bucket, count(*) AS n
    FROM customer GROUP BY 1
    """,
)
def q18(spark, sf_dir):
    """U3 deterministic split via portable hash bucketing — the
    engine-portable restatement of DataTable.split/randomSplit
    (datable.py:97-107): same rows land in the same fold on any engine."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy((h64(F.col("c_custkey").cast("string")) % 5).alias("bucket")).agg(
        F.count("*").alias("n")
    )


# =====================================================================
# Scalar / string functions (SURVEY §2.8)
# =====================================================================

@q(
    "q19_string_funcs",
    """
    SELECT p_partkey,
           lower(p_name) AS name_lc,
           'https://en.wikipedia.org/wiki?curid=' || CAST(p_partkey AS VARCHAR) AS url,
           CAST(regexp_extract(p_brand, '([0-9]+)$', 1) AS BIGINT) AS brand_num,
           substring(p_type, 1, 6) AS type_prefix
    FROM part
    """,
)
def q19(spark, sf_dir):
    """F2 lowercase, F6 URL templating (el_toolkit.py:57-59), F7 curid
    parse (util.py:432-436), F9 prefix split."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.concat(F.lit("https://en.wikipedia.org/wiki?curid="), F.col("p_partkey").cast("string")).alias("url"),
        F.regexp_extract("p_brand", r"([0-9]+)$", 1).cast("bigint").alias("brand_num"),
        F.substring("p_type", 1, 6).alias("type_prefix"),
    )


# =====================================================================
# Shingles / MinHash / SimHash / fingerprints (blocking primitives)
# =====================================================================

@q(
    "q20_shingle_stats",
    f"""
    SELECT doc_id, len({_shingles_sql('text')}) AS n_shingles,
           len({_toks('text')}) AS n_tokens
    FROM documents WHERE doc_id < 100
    """,
)
def q20(spark, sf_dir):
    """Character k-shingling (F3 tokenize analogue) — cardinalities."""
    d = _t(spark, sf_dir, "documents").filter("doc_id < 100")
    return d.select(
        "doc_id",
        F.size(char_shingles("text")).alias("n_shingles"),
        F.size(tokens("text")).alias("n_tokens"),
    )


def _minhash_cols_sql(nperm: int = 8) -> str:
    cols = []
    for i in range(nperm):
        a, b = _perm_coeffs(i)
        cols.append(
            f"list_min(list_transform(__h, h -> ({a} * h + {b}) % {MINHASH_P})) AS m{i}"
        )
    return ", ".join(cols)


@q(
    "q21_minhash_signature",
    f"""
    SELECT doc_id, {_minhash_cols_sql(8)} FROM (
      SELECT doc_id, list_transform({_shingles_sql('text')}, s -> {_h28_sql('s')}) AS __h
      FROM documents WHERE doc_id < 50)
    """,
)
def q21(spark, sf_dir):
    """MinHash signature values — bit-identical across engines (the
    LSH blocking primitive replacing FAISS, blink.py:157-162)."""
    d = _t(spark, sf_dir, "documents").filter("doc_id < 50")
    sigs = signature_table(
        d, id_col="doc_id", content_col="text", key_cols=(), num_perm=8, mode="portable"
    )
    return sigs.select("doc_id", *[F.col("sig")[i].alias(f"m{i}") for i in range(8)])


def _simhash_sql(bits: int = 16) -> str:
    terms = []
    for j in range(bits):
        terms.append(
            f"(CASE WHEN list_sum(list_transform(__h, x -> ((x // {2**j}) % 2) * 2 - 1)) > 0 "
            f"THEN {2**j} ELSE 0 END)"
        )
    return " + ".join(terms)


@q(
    "q23_simhash",
    f"""
    SELECT doc_id, {_simhash_sql(16)} AS simhash FROM (
      SELECT doc_id, list_transform(list_filter({_toks('text')}, t -> t <> ''),
                                    t -> {_h64_sql('t')}) AS __h
      FROM documents WHERE doc_id < 50)
    """,
)
def q23(spark, sf_dir):
    """SimHash (16-bit expression form) per document."""
    d = _t(spark, sf_dir, "documents").filter("doc_id < 50")
    toks = F.filter(tokens("text"), lambda t: t != "")
    return d.select("doc_id", simhash64(toks, bits=16).alias("simhash"))


@q(
    "q57_simhash_near_dup",
    f"""
    WITH h AS (
      SELECT doc_id, ({_simhash_sql(16)}) AS simhash FROM (
        SELECT doc_id, list_transform(list_filter({_toks('text')}, t -> t <> ''),
                                      t -> {_h64_sql('t')}) AS __h
        FROM documents WHERE doc_id < 200)
    )
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q57(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 3) via the chunk-bucketed
    self-join — EXACT by pigeonhole (4 disjoint chunks, <= 3 differing
    bits => one chunk equal), so the brute-force DuckDB twin matches
    the bucketed plan's output identically."""
    from cogie_spark.operators.dedup import simhash_near_duplicates

    d = _t(spark, sf_dir, "documents").filter("doc_id < 200")
    out = simhash_near_duplicates(d, "doc_id", "text", bits=16, max_hamming=3, n_chunks=4)
    return out.select("left_id", "right_id", F.col("hamming").cast("bigint").alias("hamming"))


@q(
    "q29_fingerprint_winnow",
    f"""
    SELECT doc_id, md5({_norm('text')}) AS fp,
           len(list_distinct(list_transform(
             range(1, greatest(len(__h) - 2, 2)),
             i -> list_min(__h[i:i+3])))) AS n_fingerprints
    FROM (SELECT doc_id, text, list_transform(
            list_transform(range(1, greatest(length({_norm('text')}) - 6, 2)),
                           i -> substring({_norm('text')}, i::INT, 8)),
            s -> {_h28_sql('s')}) AS __h
          FROM documents WHERE doc_id < 50)
    """,
)
def q29(spark, sf_dir):
    """Document fingerprint (md5 of normalized content) + winnowing
    fingerprint count (rolling-hash window minima, Schleimer et al.)."""
    d = _t(spark, sf_dir, "documents").filter("doc_id < 50")
    return d.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        F.size(winnow_fingerprints("text", k=8, window=4)).alias("n_fingerprints"),
    )


# =====================================================================
# Text analysis (training-data ops)
# =====================================================================

@q(
    "q28_token_counts",
    f"""
    SELECT doc_id, len({_toks('text')}) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bpe_tokens
    FROM documents
    """,
)
def q28(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
    )


def _langid_sql() -> str:
    hits = {
        lg: f"len(list_filter({_toks('text')}, t -> t IN ({', '.join(repr(w) for w in ws)})))"
        for lg, ws in STOPWORDS.items()
    }
    return f"""
    CASE
      WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es AND h_en > 0 THEN 'en'
      WHEN h_de >= h_fr AND h_de >= h_es AND h_de > 0 THEN 'de'
      WHEN h_fr >= h_es AND h_fr > 0 THEN 'fr'
      WHEN h_es > 0 THEN 'es'
      ELSE 'und' END
    """, hits


@q("q26_text_stats", None)  # oracle attached below (needs the lang-id CTE)
def q26(spark, sf_dir):
    """Language-ID heuristic (argmax of stopword hits, 'und' fallback) +
    quality-scoring features (length / punctuation / case ratios), one
    row per document."""
    d = _t(spark, sf_dir, "documents")
    qf = quality_features(d.select("doc_id", "lang", "text"), "text")
    return qf.select(
        "doc_id", "lang", lang_id("text").alias("pred_lang"),
        "n_chars", "n_tokens", "punct_ratio", "upper_ratio",
    )


_case, _hits = _langid_sql()
ORACLES["q26_text_stats"] = f"""
    SELECT doc_id, lang, ({_case}) AS pred_lang,
           n_chars, n_tokens, punct_ratio, upper_ratio
    FROM (
      SELECT doc_id, lang,
             {_hits['en']} AS h_en, {_hits['de']} AS h_de,
             {_hits['fr']} AS h_fr, {_hits['es']} AS h_es,
             length({_norm('text')}) AS n_chars,
             len({_toks('text')}) AS n_tokens,
             round(length(regexp_replace({_norm('text')}, '[a-z0-9\\s]', '', 'g'))
                   / greatest(length({_norm('text')}), 1), 6) AS punct_ratio,
             round(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                   / greatest(length(text), 1), 6) AS upper_ratio
      FROM documents)
"""


# =====================================================================
# Dedup family (training-data ops)
# =====================================================================

def _docs_with_clones(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    clones = d.filter("doc_id < 50").withColumn("doc_id", F.col("doc_id") + 100000)
    # the dedup family's shingle/MinHash aggregation fuses into this
    # scan stage — spread it to the core count (the documents table is
    # one row group per file in the sandbox, so the scan is 1-2 tasks)
    return spread_scan(d.unionByName(clones))


_CLONES_SQL = "(SELECT * FROM documents UNION ALL SELECT doc_id + 100000, text, lang, source, n_chars FROM documents WHERE doc_id < 50)"


@q(
    "q31_exact_dup_groups",
    f"""
    SELECT content_hash, group_size, canonical_id FROM (
      SELECT sha256(text) AS content_hash, count(*) AS group_size,
             min(doc_id) AS canonical_id
      FROM {_CLONES_SQL} GROUP BY 1) WHERE group_size > 1
    """,
)
def q31(spark, sf_dir):
    """Exact dedup: hash-groupBy duplicate groups (U2 at scale)."""
    docs = _docs_with_clones(spark, sf_dir)
    return exact_duplicate_groups(docs, id_col="doc_id", text_col="text")


@q(
    "q32_minhash_near_dup",
    f"""
    WITH d AS (SELECT * FROM {_CLONES_SQL} t),
    g AS (SELECT doc_id, lang, {_shingles_sql('text')} AS sh FROM d)
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id AND a.lang = b.lang
    WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.9
    """,
)
def q32(spark, sf_dir):
    """MinHash-LSH near-dup detection (shingle→minhash→band→bucket-join
    →exact-Jaccard verify). The oracle computes brute-force CHAR-shingle
    Jaccard over all same-lang pairs; precision is exact either way (the
    final filter verifies char-shingle Jaccard >= 0.9 on candidates).

    Recall domain caveat (ADVICE r4 #3): mode='fast' bands over WORD
    3-gram xxhash64 signatures, so the banding S-curve 1-(1-s^r)^b
    applies to word-gram similarity, not to the oracle's char-shingle
    similarity — the clean 1-(1-0.81)^16 bound computed in the
    char-shingle domain does NOT transfer. What protects the estimate
    filter is the widened cascade floor; what protects candidate
    generation is that char-Jaccard >= 0.9 pairs of prose-like text are
    word-gram similar too (near-identical texts differ in few words).
    A pathological pair — char-Jaccard just above 0.9 but much lower
    word-gram similarity (e.g. heavy word-boundary edits) — CAN be
    missed; agreement with the oracle is empirically validated on the
    sf0.01/sf0.1 fixtures (pair-identical output, 131 pairs at sf0.1).
    The gap is now MEASURED (VERDICT r5 #6, tests/test_operators.py::
    test_fast_family_recall_on_word_boundary_edits): on an adversarial
    corpus of long-token docs with 5 word-boundary deletions each
    (char-J ≥ 0.9 by construction), mode='fast' recalls 0.783 of the
    60 true pairs where mode='portable' recalls 1.0 — both with exact
    precision.
    For an analytic recall bound in the oracle's own domain, use
    mode='portable' (char-shingle signatures, ~5x slower hashing).
    (The testdata has planted near-dup documents — the clones union
    adds known jaccard-1.0 pairs on top.)"""
    # the near-dup operator reads its input twice (signature pass +
    # the cascade's shingle-set side table) — persist the scan+union once
    docs = _docs_with_clones(spark, sf_dir).persist()
    # the query contract returns a lazy frame, so nothing here can
    # release the operator's caches (or docs): they live until the
    # caller clears the session's cache
    out = minhash_near_duplicates(
        docs, id_col="doc_id", text_col="text", key_cols=("lang",),
        jaccard_threshold=0.9, mode="fast", release_into=[],
    )
    return out.select("left_id", "right_id", "jaccard")


@q(
    "q22_ngram_jaccard",
    f"""
    WITH g AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(__t) - 1, 2)),
               i -> array_to_string(__t[i:i+2], ' '))) AS grams
      FROM (SELECT doc_id, {_toks('text')} AS __t FROM documents
            WHERE lang = 'fr' AND doc_id < 300)
    )
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           round(len(list_intersect(a.grams, b.grams))::DOUBLE
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.01
    """,
)
def q22(spark, sf_dir):
    """Exact word-3gram Jaccard pairs (n=3 grams of 3 tokens => here
    n=3 window of 3 -- uses trigram of tokens with n=3)."""
    d = _t(spark, sf_dir, "documents").filter("lang = 'fr' AND doc_id < 300")
    from cogie_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(d, id_col="doc_id", text_col="text", n=3, threshold=0.01)


@q(
    "q59_decontamination",
    f"""
    WITH t AS (SELECT doc_id, {_toks('text')} AS tk FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   range(1, greatest(len(tk) - 3, 2)),
                   i -> array_to_string(tk[i:i+4], ' ')))) AS gram
          FROM t),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 19 = 3),
    tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 19 <> 3)
    SELECT tr.doc_id AS doc_id,
           count(*) AS n_grams,
           count(ev.gram) AS contaminated_grams,
           round(count(ev.gram)::DOUBLE / count(*), 6) AS contamination_frac,
           (count(ev.gram) >= 1)::INT AS is_contaminated
    FROM tr LEFT JOIN ev ON tr.gram = ev.gram
    GROUP BY tr.doc_id
    """,
)
def q59(spark, sf_dir):
    """Eval-set decontamination (VERDICT r4 'Next round' #6): word
    5-gram collision tagging of the training split (doc_id % 19 <> 3)
    against the held-out split (doc_id % 19 = 3) — the LLM-pipeline
    benchmark-leakage guard. The plan is explode-train-grams →
    broadcast-join the distinct eval-gram table → per-doc aggregate:
    no pair table, no banding, no shuffle of the training side beyond
    the final map-side-combined groupBy (operators/dedup.py
    contamination_tags)."""
    from cogie_spark.operators.dedup import contamination_tags

    d = _t(spark, sf_dir, "documents")
    return contamination_tags(
        d.filter("doc_id % 19 <> 3"),
        d.filter("doc_id % 19 = 3"),
        id_col="doc_id",
        text_col="text",
        n=5,
        min_hits=1,
    )


# =====================================================================
# Embedding similarity (ANN)
# =====================================================================

@q(
    "q24_ann_topk",
    """
    SELECT probe_id, vec_id, cosine, rank FROM (
      SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
             round(list_sum(list_transform(range(1, len(p.embedding) + 1),
                       i -> p.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
               / sqrt(list_sum(list_transform(p.embedding, x -> x::DOUBLE * x::DOUBLE))
                    * list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE))), 6) AS cosine,
             row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 round(list_sum(list_transform(range(1, len(p.embedding) + 1),
                       i -> p.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
               / sqrt(list_sum(list_transform(p.embedding, x -> x::DOUBLE * x::DOUBLE))
                    * list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE))), 6) DESC,
                 c.vec_id) AS rank
      FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 3) p
    ) WHERE rank <= 5
    """,
)
def q24(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline (blink.py:73-93 exact
    flat-IP indexer restated as broadcast crossJoin + window top-k)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter("vec_id < 3").select(F.col("vec_id").alias("probe_id"), "embedding")
    # no spread: measured flat both ways in the round-6 interleaved A/B
    # (3 probes x 20k vectors is too little work to amortize an extra
    # exchange) — keep the r5 plan
    return brute_force_topk(emb, probes, k=5)


@q(
    "q25_embed_near_dup",
    """
    SELECT a.vec_id AS left_id, b.vec_id AS right_id,
           round(list_sum(list_transform(range(1, len(a.embedding) + 1),
                     i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
             / sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))
                  * list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_sum(list_transform(range(1, len(a.embedding) + 1),
                     i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
             / sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))
                  * list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))), 6) >= 0.4
    """,
)
def q25(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH
    + exact-cosine verify (the scale path; the brute-force oracle is the
    DuckDB SQL). 32 bands x 2 rows keeps the per-pair miss probability
    at cosine 0.4 below 1e-7, so the output set equals brute force."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(emb, threshold=0.4, mode="lsh", bands=32, rows_per_band=2)


def _plane_sql(weights: list[int], col: str = "embedding") -> str:
    parts = []
    for i, w in enumerate(weights):
        parts.append(("+ " if w > 0 else "- ") + f"{col}[{i + 1}]::DOUBLE")
    expr = " ".join(parts)
    return expr[2:] if expr.startswith("+ ") else expr


def _lsh_band_cols_sql(bands: int, rows_per_band: int, dim: int) -> str:
    """Band codes with the SAME ±1 plane constants the Spark operator
    folds in at plan-build time (operators/ann.plane_weights) — the
    oracle replicates the bucketing bit-for-bit, not just the output."""
    from cogie_spark.operators.ann import plane_weights

    cols = []
    for b in range(bands):
        terms = []
        for r in range(rows_per_band):
            w = plane_weights(b * rows_per_band + r, dim)
            bit = f"(CASE WHEN ({_plane_sql(w)}) > 0 THEN 1 ELSE 0 END)"
            terms.append(f"{bit} * {2 ** (rows_per_band - 1 - r)}")
        cols.append(f"({' + '.join(terms)}) AS c{b}")
    return ", ".join(cols)


_COS_SQL = """round(list_sum(list_transform(range(1, len(a.embedding) + 1),
                     i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
             / sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))
                  * list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))), 6)"""


@q(
    "q50_lsh_band_pairs",
    f"""
    WITH codes AS (SELECT vec_id, embedding, {_lsh_band_cols_sql(16, 2, 64)} FROM embeddings)
    SELECT a.vec_id AS left_id, b.vec_id AS right_id, {_COS_SQL} AS cosine
    FROM codes a JOIN codes b
      ON a.vec_id < b.vec_id
     AND ({' OR '.join(f'a.c{i} = b.c{i}' for i in range(16))})
    WHERE {_COS_SQL} >= 0.42
    """,
)
def q50(spark, sf_dir):
    """Banded hyperplane LSH near-dup — the scale path itself, oracle-
    replicated: DuckDB computes the SAME 32 sign-bit planes (literal ±1
    weights from the md5 family) and the same collide-in-any-band
    candidate set, so the match verifies the bucketing, not just the
    final pair set. Embedding dim is 64 in the driver testdata."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        emb, threshold=0.42, mode="lsh", bands=16, rows_per_band=2
    )


# =====================================================================
# The EL chain (SURVEY §3.1 lifecycle): blocking join -> pair scoring ->
# argmax winner -> entity enrichment -> sameAs with 'unk' miss handling
# =====================================================================

@q(
    "q34_el_chain",
    """
    WITH entities AS (
      SELECT p_partkey AS local_id, lower(p_name) AS title,
             p_type AS text, p_partkey * 10 AS wikipedia_id,
             'https://en.wikipedia.org/wiki?curid=' || CAST(p_partkey * 10 AS VARCHAR) AS url
      FROM part),
    mentions AS (
      SELECT l_orderkey AS mention_id, lower(p.p_name) AS mention
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_linenumber = 1 AND l.l_orderkey % 7 = 0),
    cands AS (
      SELECT m.mention_id, m.mention, e.local_id, e.title, e.wikipedia_id, e.url,
             round(jaro_winkler_similarity(m.mention, e.title), 4) AS score
      FROM mentions m JOIN entities e
        ON substring(m.mention, 1, 6) = substring(e.title, 1, 6)),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY mention_id ORDER BY score DESC, title, local_id) AS rk
      FROM cands),
    winners AS (SELECT * FROM ranked WHERE rk = 1),
    sameas AS (
      SELECT p_partkey * 10 AS wikipedia_id, 'Q' || CAST(p_partkey AS VARCHAR) AS cognet_id
      FROM part WHERE p_partkey % 2 = 0)
    SELECT w.mention_id, w.title, w.score, w.url,
           coalesce(s.cognet_id, 'unk') AS cognet_link
    FROM winners w LEFT JOIN sameas s ON w.wikipedia_id = s.wikipedia_id
    """,
)
def q34(spark, sf_dir):
    """The reference's /linking lifecycle as ONE DataFrame lineage
    (SURVEY.md §3.1; /root/reference/cogie/toolkit/el/el_toolkit.py:84-152):

    entities dim (el_load_candidates util.py:419-450, here derived from
    ``part``) -> mention normalization (el_toolkit.py:87-96, F2 lower)
    -> blocking join on title prefix (the J4 candidate generation)
    -> pair scoring with the Jaro-Winkler pandas UDF (the cross-encoder
    stand-in, el_toolkit.py:631-645) -> argmax winner (W2,
    el_toolkit.py:131-133) -> entity enrichment join (J1, :133-135)
    -> owl:sameAs left join with 'unk' miss (J2+J3, :136-142).
    """
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    entities = p.select(
        F.col("p_partkey").alias("local_id"),
        F.lower("p_name").alias("title"),
        F.col("p_type").alias("text"),
        (F.col("p_partkey") * 10).alias("wikipedia_id"),
        F.concat(
            F.lit("https://en.wikipedia.org/wiki?curid="),
            (F.col("p_partkey") * 10).cast("string"),
        ).alias("url"),
    )
    mentions = (
        li.filter((F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 7 == 0))
        .join(p, li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("mention_id"), F.lower("p_name").alias("mention"))
    )
    sameas = p.filter(F.col("p_partkey") % 2 == 0).select(
        (F.col("p_partkey") * 10).alias("wikipedia_id"),
        F.concat(F.lit("Q"), F.col("p_partkey").cast("string")).alias("cognet_id"),
    )
    from cogie_spark.operators.linking import link_mentions

    return link_mentions(mentions, entities, sameas).select(
        "mention_id", "title", "score", "url", "cognet_link"
    )


# =====================================================================
# Positional explode / name forms / weighted sampling (S2/W7, F8, A12)
# =====================================================================

@q(
    "q35_posexplode_tokens",
    f"""
    SELECT doc_id, u.pos AS pos, u.tok AS token FROM (
      SELECT doc_id, unnest(list_transform(range(1, len(__t) + 1),
                     i -> {{'pos': i - 1, 'tok': __t[i]}})) AS u
      FROM (SELECT doc_id, {_toks('text')} AS __t FROM documents WHERE doc_id < 20))
    """,
)
def q35(spark, sf_dir):
    """Positional token explode (S2 sentence split / W7 positional index;
    /root/reference/cogie/io/loader/ner/trex_ner.py:22-64)."""
    d = _t(spark, sf_dir, "documents").filter("doc_id < 20")
    return d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "token")
    )


@q(
    "q36_name_forms",
    """
    SELECT p_partkey, unnest(list_distinct([
        p_name, lower(p_name), upper(p_name),
        upper(substring(p_name, 1, 1)) || lower(substring(p_name, 2))
    ])) AS form
    FROM part WHERE p_partkey <= 200
    """,
)
def q36(spark, sf_dir):
    """F8 name-form generation (get_all_forms,
    /root/reference/cogie/utils/util.py:365-372): capitalization variant
    array -> explode."""
    p = _t(spark, sf_dir, "part").filter("p_partkey <= 200")
    capfirst = F.concat(
        F.upper(F.substring("p_name", 1, 1)), F.lower(F.expr("substring(p_name, 2)"))
    )
    forms = F.array_distinct(
        F.array(F.col("p_name"), F.lower("p_name"), F.upper("p_name"), capfirst)
    )
    return p.select("p_partkey", F.explode(forms).alias("form"))


@q(
    "q37_weighted_sampling",
    """
    SELECT user_id,
           CASE WHEN max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1
                THEN 5.0::DOUBLE ELSE 1.0::DOUBLE END AS weight
    FROM events GROUP BY user_id
    """,
)
def q37(spark, sf_dir):
    """A12 existence-weighted sampling (get_samples_weight,
    /root/reference/cogie/utils/util.py:405-417): weight 5.0 if any
    non-O trigger exists in the row group, else 1.0."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.when(
            F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)) == 1, 5.0
        )
        .otherwise(1.0)
        .alias("weight")
    )


# =====================================================================
# Span/set F1 (A4/A10) and array sort (W4)
# =====================================================================

@q(
    "q38_set_f1",
    """
    WITH pred AS (SELECT o_orderkey AS k FROM orders WHERE o_totalprice > 150000),
    gold AS (SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
    j AS (SELECT coalesce(p.k, g.k) AS k, p.k IS NOT NULL AS in_p, g.k IS NOT NULL AS in_g
          FROM pred p FULL OUTER JOIN gold g ON p.k = g.k)
    SELECT sum(CASE WHEN in_p AND in_g THEN 1 ELSE 0 END)::BIGINT AS tp,
           sum(CASE WHEN in_p AND NOT in_g THEN 1 ELSE 0 END)::BIGINT AS fp,
           sum(CASE WHEN NOT in_p AND in_g THEN 1 ELSE 0 END)::BIGINT AS fn,
           round(sum(CASE WHEN in_p AND in_g THEN 1 ELSE 0 END)::DOUBLE
                 / greatest(sum(CASE WHEN in_p THEN 1 ELSE 0 END), 1), 6) AS precision,
           round(sum(CASE WHEN in_p AND in_g THEN 1 ELSE 0 END)::DOUBLE
                 / greatest(sum(CASE WHEN in_g THEN 1 ELSE 0 END), 1), 6) AS recall
    FROM j
    """,
)
def q38(spark, sf_dir):
    """A4/A10 set-F1 as one full-outer join + one aggregation — the
    reference's TP/FP/FN counter semantics (SpanFPreRecMetric,
    /root/reference/cogie/core/metrics.py:599-649; calc_metric
    util.py:50-77)."""
    o = _t(spark, sf_dir, "orders")
    pred = o.filter("o_totalprice > 150000").select(F.col("o_orderkey").alias("k"), F.lit(True).alias("in_p"))
    gold = o.filter("o_orderpriority = '1-URGENT'").select(F.col("o_orderkey").alias("k"), F.lit(True).alias("in_g"))
    j = pred.join(gold, "k", "full_outer").select(
        F.coalesce("in_p", F.lit(False)).alias("in_p"),
        F.coalesce("in_g", F.lit(False)).alias("in_g"),
    )
    tp = F.sum(F.when(F.col("in_p") & F.col("in_g"), 1).otherwise(0))
    return j.agg(
        tp.alias("tp"),
        F.sum(F.when(F.col("in_p") & ~F.col("in_g"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("in_p") & F.col("in_g"), 1).otherwise(0)).alias("fn"),
        F.round(tp.cast("double") / F.greatest(F.sum(F.when(F.col("in_p"), 1).otherwise(0)), F.lit(1)), 6).alias("precision"),
        F.round(tp.cast("double") / F.greatest(F.sum(F.when(F.col("in_g"), 1).otherwise(0)), F.lit(1)), 6).alias("recall"),
    )


# =====================================================================
# Tag-scheme span decode (W5: BIO/BMES/BIOES/BMESO) — oracle-checked on
# deterministic inline fixtures via DuckDB VALUES CTEs
# =====================================================================

# fixture tag sequences per scheme: exercise leading continuations,
# label switches inside continuations, O gaps, and S/E edge cases
_TAG_FIXTURES: dict[str, list[list[str]]] = {
    "bio": [
        ["B-PER", "I-PER", "O", "B-LOC", "O"],
        ["O", "B-ORG", "I-ORG", "I-ORG", "O", "B-PER"],
        ["I-LOC", "O", "B-LOC", "I-LOC", "B-LOC"],
    ],
    "bmes": [
        ["B-PER", "M-PER", "E-PER", "S-LOC", "B-ORG", "E-ORG"],
        ["M-PER", "E-PER", "S-PER", "B-LOC", "M-LOC", "M-ORG", "E-ORG"],
        ["S-PER", "S-PER", "E-LOC", "B-PER", "B-PER"],
    ],
    "bioes": [
        ["B-PER", "I-PER", "E-PER", "O", "S-LOC"],
        ["O", "I-ORG", "E-ORG", "O", "E-PER", "S-LOC"],
        ["B-LOC", "E-LOC", "I-LOC", "O", "B-PER", "I-PER", "I-LOC"],
    ],
    "bmeso": [
        ["O", "B-PER", "M-PER", "E-PER", "O", "S-LOC"],
        ["M-ORG", "O", "E-ORG", "S-ORG", "B-PER", "M-LOC"],
        ["B-PER", "E-PER", "M-PER", "S-LOC", "O", "O"],
    ],
}


def _tag_fixture_rows(scheme: str) -> list[tuple[int, int, int, str, str]]:
    rows = []
    for s, tags in enumerate(_TAG_FIXTURES[scheme]):
        for p, tag in enumerate(tags):
            rows.append((0, s, p, f"t{s}_{p}", tag))
    return rows


def _tag_decode_all(spark, sf_dir):
    """W5 BIO/BMES/BIOES/BMESO span decode via sessionization, all four
    schemes union'd with a scheme tag (reference state machines
    /root/reference/cogie/core/metrics.py:419-505)."""
    from cogie_spark.operators.spans import tag_spans_decode

    out = None
    for scheme in _TAG_FIXTURES:
        df = spark.createDataFrame(
            _tag_fixture_rows(scheme),
            "doc_id long, sent_id long, pos long, token string, tag string",
        )
        part = tag_spans_decode(df, scheme=scheme).select(
            F.lit(scheme).alias("scheme"), "*"
        )
        out = part if out is None else out.unionByName(part)
    return out


def _tag_decode_sql(scheme: str) -> str:
    """DuckDB twin of tag_spans_decode: lag -> new-span flag -> running
    sum segment id -> grouped span extents (same state machine)."""
    from cogie_spark.operators.spans import SCHEMES

    spec = SCHEMES[scheme]
    values = ", ".join(
        f"({d}, {s}, {p}, '{tok}', '{tag}')" for d, s, p, tok, tag in _tag_fixture_rows(scheme)
    )
    cont = ", ".join(f"'{x}'" for x in spec["cont"])
    prev = ", ".join(f"'{x}'" for x in spec["prev"])
    if spec["o"]:
        o_list = ", ".join(f"'{x}'" for x in spec["o"])
        o_case = f"WHEN pfx IN ({o_list}) THEN 0"
        o_filter = f"WHERE pfx NOT IN ({o_list})"
    else:
        o_case, o_filter = "", ""
    return f"""
    WITH toks(doc_id, sent_id, pos, token, tag) AS (VALUES {values}),
    t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(sent_id AS BIGINT) AS sent_id,
                 CAST(pos AS BIGINT) AS pos, token,
                 lower(substring(tag, 1, 1)) AS pfx, lower(substring(tag, 3)) AS lbl,
                 lag(lower(substring(tag, 1, 1))) OVER w AS ppfx,
                 lag(lower(substring(tag, 3))) OVER w AS plbl
          FROM toks WINDOW w AS (PARTITION BY doc_id, sent_id ORDER BY pos)),
    f AS (SELECT *, CASE {o_case}
                 WHEN pfx IN ({cont}) AND ppfx IN ({prev}) AND plbl = lbl THEN 0
                 ELSE 1 END AS new_span FROM t),
    s AS (SELECT *, sum(new_span) OVER (PARTITION BY doc_id, sent_id ORDER BY pos) AS seg FROM f)
    SELECT doc_id, sent_id, lbl AS label, min(pos) AS start, max(pos) + 1 AS "end",
           string_agg(token, ' ' ORDER BY pos) AS text
    FROM s {o_filter} GROUP BY doc_id, sent_id, seg, lbl
    """


QUERIES["q33_tag_decode"] = _tag_decode_all
ORACLES["q33_tag_decode"] = "\nUNION ALL\n".join(
    f"SELECT '{_scheme}' AS scheme, * FROM ({_tag_decode_sql(_scheme)})"
    for _scheme in _TAG_FIXTURES
)


@q(
    "q52_encode_tokens",
    f"""
    WITH vocab AS (
      SELECT word, row_number() OVER (ORDER BY count DESC, word) + 1 AS idx FROM (
        SELECT word, count(*) AS count FROM (
          SELECT unnest({_toks('text')}) AS word FROM documents)
        WHERE word <> '' GROUP BY word HAVING count(*) >= 20)
    ),
    toks AS (
      SELECT doc_id, u.pos AS pos, u.tok AS word FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(__t) + 1),
                       i -> {{'pos': i - 1, 'tok': __t[i]}})) AS u
        FROM (SELECT doc_id, {_toks('text')} AS __t FROM documents WHERE doc_id < 15))
      WHERE u.tok <> ''
    )
    SELECT t.doc_id,
           string_agg(CAST(coalesce(v.idx, 1) AS VARCHAR), ' ' ORDER BY t.pos) AS token_ids,
           count(*) AS n_tokens
    FROM toks t LEFT JOIN vocab v ON t.word = v.word
    GROUP BY t.doc_id
    """,
)
def q52(spark, sf_dir):
    """Vocabulary-encode round trip (S7/J1): token arrays -> id arrays
    via broadcast join against the vocab dim (reference word2idx lookup,
    vocabulary.py:214-230), unknown -> idx 1. Ids space-joined for the
    canonicalizer. Empty tokens are excluded on both sides (the Spark
    tokenizer emits none for normalized text)."""
    from cogie_spark.operators.vocab import build_vocab, encode_tokens

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", min_freq=20, n_special=2)
    d = docs.filter("doc_id < 15").select("doc_id", "text")
    enc = encode_tokens(d, vocab, text_col="text", unk_idx=1)
    return enc.select(
        "doc_id",
        F.concat_ws(" ", F.transform("token_ids", lambda x: x.cast("string"))).alias("token_ids"),
        F.size("token_ids").cast("bigint").alias("n_tokens"),
    )


_CTX_FIXTURE = [
    # (id, left tokens, right tokens) exercising both-long, short-left,
    # short-right, both-short, and empty-side quota transfers
    (0, "a b c d e f", "u v w x y z"),
    (1, "a", "u v w x y z"),
    (2, "a b c d e f", "u"),
    (3, "a b", "u v"),
    (4, "", "u v w x y z"),
    (5, "a b c d e f", ""),
]


@q(
    "q53_context_window",
    f"""
    WITH rows(id, l, r) AS (VALUES {', '.join(f"({i}, '{l}', '{r}')" for i, l, r in _CTX_FIXTURE)}),
    t AS (SELECT id,
                 list_filter(string_split(l, ' '), x -> x <> '') AS lt,
                 list_filter(string_split(r, ' '), x -> x <> '') AS rt
          FROM rows),
    qta AS (SELECT id, lt, rt, len(lt) AS ln, len(rt) AS rn,
                 greatest(least(len(lt), 4 + greatest(4 - len(rt), 0)), 0) AS lq,
                 greatest(least(len(rt), 4 + greatest(4 - len(lt), 0)), 0) AS rq
          FROM t)
    SELECT id,
           coalesce(array_to_string(CASE WHEN lq > 0 THEN lt[ln - lq + 1 : ln] ELSE []::VARCHAR[] END, ' '), '') AS kept_left,
           coalesce(array_to_string(CASE WHEN rq > 0 THEN rt[1 : rq] ELSE []::VARCHAR[] END, ' '), '') AS kept_right
    FROM qta
    """,
)
def q53(spark, sf_dir):
    """F4 context-window truncation with quota rebalancing (reference
    el_toolkit.py:217-230: each side gets max_len/2, unused quota from
    the short side transfers to the long side; left keeps its TAIL)."""
    from cogie_spark.functions.features import context_window

    df = spark.createDataFrame(_CTX_FIXTURE, "id long, l string, r string")
    toks = df.select(
        "id",
        F.filter(F.split("l", " "), lambda x: x != "").alias("lt"),
        F.filter(F.split("r", " "), lambda x: x != "").alias("rt"),
    )
    win = toks.select("id", context_window("lt", "rt", max_len=8).alias("w"))
    return win.select(
        "id",
        F.array_join(F.col("w.left"), " ").alias("kept_left"),
        F.array_join(F.col("w.right"), " ").alias("kept_right"),
    )


@q(
    "q54_frame_sample",
    """
    SELECT media_id, unnest(range(0, greatest(n_frames - 1, 0) + 1, 10))::BIGINT AS frame_idx
    FROM (SELECT 'm' || CAST(i AS VARCHAR) AS media_id, 95 + i * 7 AS n_frames
          FROM range(0, 12) t(i))
    """,
)
def q54(spark, sf_dir):
    """F12/F15 video frame-sampling plumbing (multimodal.frame_sample):
    1 media row -> n_frames/10 frame-index rows, pure sequence explode —
    no Python touches the bytes for the index math."""
    from cogie_spark.operators.multimodal import frame_sample

    rows = [(f"m{i}", "video", bytearray(b"x"), (32, 32, 16000, 95 + i * 7)) for i in range(12)]
    from cogie_spark.operators.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return frame_sample(df, every_n=10).select(
        "media_id", F.col("frame_idx").cast("bigint").alias("frame_idx")
    )


# =====================================================================
# CoNLL stateful parse (S3) — oracle-checked on a deterministic fixture
# =====================================================================

_CONLL_LINES = [
    "-DOCSTART- -X- -X- O",
    "",
    "EU NNP B-NP B-ORG",
    "rejects VBZ B-VP O",
    "German JJ B-NP B-MISC",
    "call NN I-NP O",
    ". . O O",
    "",
    "Peter NNP B-NP B-PER",
    "Blackburn NNP I-NP I-PER",
    "",
    "BRUSSELS NNP B-NP B-LOC",
    "1996-08-22 CD I-NP O",
]


@q(
    "q51_conll_parse",
    f"""
    WITH lines(line_no, line) AS (VALUES {', '.join(f"({i}, '{ln}')" for i, ln in enumerate(_CONLL_LINES))}),
    s AS (SELECT line_no, line,
                 CASE WHEN trim(line) = '' THEN 1 ELSE 0 END AS _blank,
                 sum(CASE WHEN trim(line) = '' THEN 1 ELSE 0 END)
                   OVER (ORDER BY line_no)::BIGINT AS sent_id
          FROM lines),
    t AS (SELECT sent_id, line_no,
                 regexp_split_to_array(trim(line), '\\s+') AS cols
          FROM s WHERE _blank = 0 AND NOT starts_with(line, '-DOCSTART-'))
    SELECT sent_id,
           string_agg(cols[1], ' ' ORDER BY line_no) AS tokens,
           string_agg(cols[-1], ' ' ORDER BY line_no) AS tags,
           count(*) AS n_tokens
    FROM t GROUP BY sent_id
    """,
)
def q51(spark, sf_dir):
    """S3 CoNLL stateful line parse as sessionization
    (/root/reference/cogie/io/loader/ner/conll2003.py:16-38): blank-line
    running sum -> sentence groups, col0=token / last col=tag. The
    fixture file is written deterministically; arrays are space-joined
    for the driver canonicalizer."""
    import os
    import tempfile

    from cogie_spark.sources.conll import read_conll

    d = tempfile.mkdtemp(prefix="conll_fixture_")
    path = os.path.join(d, "fixture.conll")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(_CONLL_LINES))
    df = read_conll(spark, path)
    return df.select(
        F.col("sent_id").cast("bigint").alias("sent_id"),
        F.array_join("tokens", " ").alias("tokens"),
        F.array_join("tags", " ").alias("tags"),
        F.size("tokens").cast("bigint").alias("n_tokens"),
    )


# =====================================================================
# Per-class F-beta (A13), tuple metrics (A14), ET threshold (F13)
# =====================================================================

@q(
    "q43_fbeta_per_class",
    """
    WITH d AS (SELECT event_type AS target,
                      CASE WHEN event_id % 3 = 0 THEN 'click' ELSE event_type END AS pred
               FROM events),
    p AS (SELECT pred AS label, sum(CASE WHEN target = pred THEN 1 ELSE 0 END)::BIGINT AS tp,
                 count(*) AS pred_n FROM d GROUP BY 1),
    g AS (SELECT target AS label, count(*) AS true_n FROM d GROUP BY 1),
    j AS (SELECT coalesce(p.label, g.label) AS label, coalesce(tp, 0)::BIGINT AS tp,
                 coalesce(pred_n, 0)::BIGINT AS pred_n, coalesce(true_n, 0)::BIGINT AS true_n
          FROM p FULL OUTER JOIN g ON p.label = g.label),
    k AS (SELECT label, tp, pred_n, true_n,
                 CASE WHEN pred_n = 0 THEN 0.0::DOUBLE ELSE tp / pred_n::DOUBLE END AS prec,
                 CASE WHEN true_n = 0 THEN 0.0::DOUBLE ELSE tp / true_n::DOUBLE END AS rec
          FROM j)
    SELECT label, tp, pred_n, true_n,
           round(prec, 6) AS precision, round(rec, 6) AS recall,
           round(CASE WHEN tp = 0 THEN 0.0 ELSE 5.0 * prec * rec / (4.0 * prec + rec) END, 6) AS fbeta
    FROM k
    """,
)
def q43(spark, sf_dir):
    """A13 per-class F-beta (beta=2) — reference FBetaMeasure
    (/root/reference/cogie/core/metrics.py:1075-1236) over events with a
    deterministic derived prediction."""
    from cogie_spark.operators.metrics import fbeta_by_class

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.col("event_type").alias("target"),
        F.when(F.col("event_id") % 3 == 0, F.lit("click")).otherwise(F.col("event_type")).alias("pred"),
    )
    per = fbeta_by_class(d, "target", "pred", beta=2.0)
    return per.select(
        "label", "tp", "pred_n", "true_n",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("fbeta", 6).alias("fbeta"),
    )


_SPO_PRED = [
    (0, "alice", "works_at", "acme"),
    (0, "alice", "works_at", "acme"),  # duplicate: set semantics
    (0, "bob", "knows", "alice"),
    (1, "carol", "born_in", "paris"),
    (1, "carol", "born_in", "london"),
    (2, "dave", "ceo_of", "initech"),
]
_SPO_GOLD = [
    (0, "alice", "works_at", "acme"),
    (0, "bob", "knows", "carol"),
    (1, "carol", "born_in", "paris"),
    (1, "erin", "lives_in", "oslo"),
    (3, "frank", "knows", "grace"),
]


def _spo_values(rows) -> str:
    return ", ".join(f"({d}, '{s}', '{p}', '{o}')" for d, s, p, o in rows)


@q(
    "q47_spo_f1",
    f"""
    WITH pred(doc_id, s, p, o) AS (VALUES {_spo_values(_SPO_PRED)}),
    gold(doc_id, s, p, o) AS (VALUES {_spo_values(_SPO_GOLD)}),
    pd AS (SELECT DISTINCT doc_id, s, p, o, 1 AS _p FROM pred),
    gd AS (SELECT DISTINCT doc_id, s, p, o, 1 AS _g FROM gold),
    j AS (SELECT _p, _g FROM pd FULL OUTER JOIN gd USING (doc_id, s, p, o)),
    c AS (SELECT sum(CASE WHEN _p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS pred_num,
                 sum(CASE WHEN _g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS gold_num,
                 sum(CASE WHEN _p IS NOT NULL AND _g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS right_num
          FROM j),
    k AS (SELECT *, CASE WHEN pred_num = 0 THEN 0.0::DOUBLE ELSE right_num / pred_num::DOUBLE END AS prec,
                 CASE WHEN gold_num = 0 THEN 0.0::DOUBLE ELSE right_num / gold_num::DOUBLE END AS rec
          FROM c)
    SELECT pred_num, gold_num, right_num, round(prec, 6) AS precision, round(rec, 6) AS recall,
           round(CASE WHEN right_num = 0 THEN 0.0 ELSE 2.0 * prec * rec / (prec + rec) END, 6) AS f1
    FROM k
    """,
)
def q47(spark, sf_dir):
    """A14 SPO tuple micro-F1 — reference SPOMetric
    (/root/reference/cogie/core/metrics.py:1327-1537) on a deterministic
    inline fixture with duplicate tuples (set semantics)."""
    from cogie_spark.operators.metrics import tuple_prf

    schema = "doc_id long, s string, p string, o string"
    pred = spark.createDataFrame(_SPO_PRED, schema)
    gold = spark.createDataFrame(_SPO_GOLD, schema)
    out = tuple_prf(pred, gold, ("doc_id", "s", "p", "o"))
    return out.select(
        "pred_num", "gold_num", "right_num",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


_FBETA_BASE_SQL = """
    WITH d AS (SELECT event_type AS target,
                      CASE WHEN event_id % 3 = 0 THEN 'click' ELSE event_type END AS pred
               FROM events),
    p AS (SELECT pred AS label, sum(CASE WHEN target = pred THEN 1 ELSE 0 END)::BIGINT AS tp,
                 count(*) AS pred_n FROM d GROUP BY 1),
    g AS (SELECT target AS label, count(*) AS true_n FROM d GROUP BY 1),
    j AS (SELECT coalesce(p.label, g.label) AS label, coalesce(tp, 0)::BIGINT AS tp,
                 coalesce(pred_n, 0)::BIGINT AS pred_n, coalesce(true_n, 0)::BIGINT AS true_n
          FROM p FULL OUTER JOIN g ON p.label = g.label),
    k AS (SELECT label, tp, pred_n, true_n,
                 CASE WHEN pred_n = 0 THEN 0.0::DOUBLE ELSE tp / pred_n::DOUBLE END AS prec,
                 CASE WHEN true_n = 0 THEN 0.0::DOUBLE ELSE tp / true_n::DOUBLE END AS rec
          FROM k0) """.replace("FROM k0)", "FROM j)")


@q(
    "q49_fbeta_summary",
    _FBETA_BASE_SQL
    + """,
    f AS (SELECT label, tp, pred_n, true_n, prec, rec,
                 CASE WHEN tp = 0 THEN 0.0 ELSE 2.0 * prec * rec / (prec + rec) END AS fb
          FROM k),
    micro AS (SELECT 'micro' AS average,
                     CASE WHEN sum(pred_n) = 0 THEN 0.0::DOUBLE ELSE sum(tp) / sum(pred_n)::DOUBLE END AS prec,
                     CASE WHEN sum(true_n) = 0 THEN 0.0::DOUBLE ELSE sum(tp) / sum(true_n)::DOUBLE END AS rec,
                     sum(tp)::BIGINT AS tpsum
              FROM f),
    macro AS (SELECT 'macro' AS average, avg(prec) AS precision_, avg(rec) AS recall_, avg(fb) AS fbeta_ FROM f),
    wgt AS (SELECT 'weighted' AS average,
                   sum(true_n * prec) / sum(true_n)::DOUBLE AS precision_,
                   sum(true_n * rec) / sum(true_n)::DOUBLE AS recall_,
                   sum(true_n * fb) / sum(true_n)::DOUBLE AS fbeta_ FROM f)
    SELECT average, round(prec, 6) AS precision, round(rec, 6) AS recall,
           round(CASE WHEN tpsum = 0 THEN 0.0 ELSE 2.0 * prec * rec / (prec + rec) END, 6) AS fbeta
    FROM micro
    UNION ALL SELECT average, round(precision_, 6), round(recall_, 6), round(fbeta_, 6) FROM macro
    UNION ALL SELECT average, round(precision_, 6), round(recall_, 6), round(fbeta_, 6) FROM wgt
    """,
)
def q49(spark, sf_dir):
    """A13 F-beta summary modes (micro/macro/weighted, beta=1) over the
    same derived prediction as q43 — reference FBetaMeasure
    average='micro'|'macro'|'weighted' (metrics.py:1178-1201)."""
    from cogie_spark.operators.metrics import fbeta_by_class, fbeta_summary

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.col("event_type").alias("target"),
        F.when(F.col("event_id") % 3 == 0, F.lit("click")).otherwise(F.col("event_type")).alias("pred"),
    )
    per = fbeta_by_class(d, "target", "pred", beta=1.0).persist()
    parts = []
    for mode in ("micro", "macro", "weighted"):
        parts.append(
            fbeta_summary(per, beta=1.0, average=mode).select(
                F.lit(mode).alias("average"),
                F.round("precision", 6).alias("precision"),
                F.round("recall", 6).alias("recall"),
                F.round("fbeta", 6).alias("fbeta"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


@q(
    "q56_fbeta_multilabel",
    """
    WITH cells AS (SELECT user_id, event_type,
                          max((event_id % 100) / 100.0) AS prob,
                          CASE WHEN max(value) > 2.5 THEN 1 ELSE 0 END AS gold
                   FROM events GROUP BY 1, 2),
    agg AS (SELECT event_type AS label,
                   sum(CASE WHEN prob >= 0.5 AND gold = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
                   sum(CASE WHEN prob >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS pred_n,
                   sum(gold)::BIGINT AS true_n
            FROM cells GROUP BY 1),
    k AS (SELECT label, tp, pred_n, true_n,
                 CASE WHEN pred_n = 0 THEN 0.0::DOUBLE ELSE tp / pred_n::DOUBLE END AS prec,
                 CASE WHEN true_n = 0 THEN 0.0::DOUBLE ELSE tp / true_n::DOUBLE END AS rec
          FROM agg)
    SELECT label, tp, pred_n, true_n,
           round(prec, 6) AS precision, round(rec, 6) AS recall,
           round(CASE WHEN tp = 0 THEN 0.0 ELSE 2.0 * prec * rec / (prec + rec) END, 6) AS fbeta
    FROM k
    """,
)
def q56(spark, sf_dir):
    """A13 multi-label per-class F-beta — reference FBetaMultiLabelMetric
    (metrics.py:1238-1325) over long-format (user, type, prob, gold)
    cells with deterministic prob and gold columns."""
    from cogie_spark.operators.metrics import fbeta_multilabel

    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy("user_id", "event_type").agg(
        F.max((F.col("event_id") % 100) / 100.0).alias("prob"),
        F.when(F.max("value") > 2.5, 1).otherwise(0).alias("gold"),
    )
    per = fbeta_multilabel(cells, "event_type", "prob", "gold", beta=1.0, threshold=0.5)
    return per.select(
        "label", "tp", "pred_n", "true_n",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("fbeta", 6).alias("fbeta"),
    )


@q(
    "q48_et_threshold",
    """
    WITH probs AS (SELECT user_id, event_type, max((event_id % 100) / 100.0) AS prob
                   FROM events GROUP BY 1, 2),
    kept AS (SELECT user_id, event_type FROM probs WHERE prob >= 0.5)
    SELECT u.user_id,
           coalesce(string_agg(k.event_type, ',' ORDER BY k.event_type), '') AS types,
           count(k.event_type) AS n_types
    FROM (SELECT DISTINCT user_id FROM probs) u LEFT JOIN kept k USING (user_id)
    GROUP BY u.user_id
    """,
)
def q48(spark, sf_dir):
    """F13 multi-label sigmoid threshold -> type list — reference
    et_toolkit.py:120-126 over a deterministic prob column. The type
    array is comma-joined (driver canonicalizer cannot hash arrays)."""
    from cogie_spark.operators.typing import threshold_labels

    ev = _t(spark, sf_dir, "events")
    probs = ev.groupBy("user_id", "event_type").agg(
        F.max((F.col("event_id") % 100) / 100.0).alias("prob")
    )
    out = threshold_labels(probs, ["user_id"], label_col="event_type", prob_col="prob", threshold=0.5)
    return out.select("user_id", F.concat_ws(",", "types").alias("types"), "n_types")


@q(
    "q58_dis2idx_grid",
    """
    WITH pos AS (SELECT unnest(range(0, 20)) AS p),
    g AS (SELECT a.p AS i, b.p AS j, a.p - b.p AS d FROM pos a CROSS JOIN pos b),
    m AS (SELECT i, j, d,
                 CASE WHEN abs(d) >= 256 THEN 9 WHEN abs(d) >= 128 THEN 8
                      WHEN abs(d) >= 64 THEN 7 WHEN abs(d) >= 32 THEN 6
                      WHEN abs(d) >= 16 THEN 5 WHEN abs(d) >= 8 THEN 4
                      WHEN abs(d) >= 4 THEN 3 WHEN abs(d) >= 2 THEN 2
                      ELSE 1 END AS mag
          FROM g)
    SELECT i::BIGINT AS i, j::BIGINT AS j,
           (CASE WHEN d = 0 THEN 19 WHEN d < 0 THEN mag + 9 ELSE mag END)::INT AS dist_code
    FROM m
    """,
)
def q58(spark, sf_dir):
    """W6 dis2idx log2 distance-bucket grid — the reference's W2NER
    dist_inputs feature (/root/reference/cogie/io/processor/ner/
    trex_ner.py:40-49,72-82) as a named expression over a 20x20
    position grid."""
    from cogie_spark.functions.features import dis2idx

    pos = spark.range(0, 20).select(F.col("id").alias("p"))
    g = (
        pos.alias("a")
        .crossJoin(pos.alias("b"))
        .select(
            F.col("a.p").alias("i"),
            F.col("b.p").alias("j"),
            (F.col("a.p") - F.col("b.p")).alias("d"),
        )
    )
    return g.select("i", "j", dis2idx("d").alias("dist_code"))


@q(
    "q39_sorted_tokens",
    f"""
    SELECT doc_id, array_to_string(list_sort(list_distinct({_toks('text')})), ' ') AS sorted_tokens
    FROM documents WHERE doc_id < 30
    """,
)
def q39(spark, sf_dir):
    """W4 sort + U2 distinct inside arrays (ner_toolkit.py:95,168 span
    sort; rc/trex.py:64 array sorts). Output is the space-joined string:
    the driver canonicalizer cannot hash array columns."""
    d = _t(spark, sf_dir, "documents").filter("doc_id < 30")
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " ").alias("sorted_tokens"),
    )
