"""Vocabulary as a dimension table — the reference's Vocabulary class
(/root/reference/cogie/utils/vocabulary.py:84-329: word_count Counter +
word2idx/idx2word dicts) becomes one DataFrame (word, count, idx); every
dict lookup becomes a broadcast join (SURVEY.md §1.1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cogie_spark.functions.text import tokens


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_freq: int = 1,
    max_size: int | None = None,
    n_special: int = 2,
) -> DataFrame:
    """(word, count, idx) with idx dense-ranked by (count desc, word).

    min_freq mirrors vocabulary.py:154-155 (HAVING); max_size mirrors
    most_common(max_size) (vocabulary.py:152-153); n_special offsets ids
    the way padding/unknown reserve slots 0/1 (vocabulary.py:88-94).
    """
    counts = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
        .filter(F.col("count") >= min_freq)
    )
    w = Window.orderBy(F.desc("count"), F.asc("word"))
    ranked = counts.withColumn("idx", F.row_number().over(w) + n_special - 1)
    if max_size is not None:
        ranked = ranked.filter(F.col("idx") < max_size + n_special)
    return ranked


def encode_tokens(df: DataFrame, vocab: DataFrame, text_col: str = "text", unk_idx: int = 1) -> DataFrame:
    """Map token arrays to id arrays via broadcast join against the
    vocab dim (the reference's word2idx lookup, vocabulary.py:214-230).
    explode -> broadcast join -> re-collect ordered by position.

    Rows are keyed by a unique surrogate (monotonically_increasing_id)
    before the explode: grouping on the input columns would collapse
    duplicate input rows into one output row with doubled token ids.
    """
    keyed = df.withColumn("_row", F.monotonically_increasing_id())
    exploded = keyed.select(
        F.col("*"), F.posexplode(tokens(text_col)).alias("_pos", "_word")
    )
    joined = exploded.join(
        F.broadcast(vocab.select(F.col("word").alias("_word"), "idx")), "_word", "left"
    ).withColumn("_idx", F.coalesce("idx", F.lit(unk_idx)))
    keys = ["_row", *df.columns]
    return (
        joined.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(F.struct("_pos", "_idx"))).alias("_pairs"))
        .withColumn("token_ids", F.transform("_pairs", lambda s: s["_idx"]))
        .drop("_pairs", "_row")
    )
