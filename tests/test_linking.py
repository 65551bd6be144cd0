"""EL linking accuracy on the mentions/entities fixture — the
reference's blink-evaluation shape (gold-in-candidates + winner
accuracy, /root/reference/cogie/toolkit/el/el_toolkit.py:557-621)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cogie_spark.fixtures.entities import entity_catalogue, mentions, sameas
from cogie_spark.operators.linking import link_mentions


def test_linking_gold_accuracy(spark):
    ents = entity_catalogue(spark, n=300).cache()
    ms = mentions(spark, entities_n=300, n=200).cache()
    sa = sameas(spark, entities_n=300)

    # normalized blocking prefix must survive case corruption -> the
    # linking operator normalizes the mention side itself
    linked = link_mentions(
        ms.select("mention_id", "mention"), ents, sa, block_prefix=6, top_k=1
    ).cache()

    gold = ms.filter("label_id >= 0").select("mention_id", F.col("label_id"))
    joined = gold.join(linked.select("mention_id", "local_id"), "mention_id", "left")
    n_gold = gold.count()
    correct = joined.filter(F.col("local_id") == F.col("label_id")).count()
    assert correct / n_gold >= 0.95, f"{correct}/{n_gold}"

    # sameAs misses must surface as 'unk', never null (el_toolkit.py:136-142)
    assert linked.filter(F.col("cognet_link").isNull()).count() == 0
    assert linked.filter("cognet_link = 'unk'").count() > 0
    for df in (ents, ms, linked):
        df.unpersist()


def test_linking_topk_contains_gold(spark):
    """Retrieve-stage property: gold entity inside top-k candidates
    (the reference's keep_all/gold-in-candidates design,
    el_toolkit.py:451-509)."""
    ents = entity_catalogue(spark, n=300).cache()
    ms = mentions(spark, entities_n=300, n=200).filter("label_id >= 0").cache()
    top = link_mentions(ms.select("mention_id", "mention"), ents, None, top_k=5)
    hit = (
        ms.select("mention_id", "label_id")
        .join(top.select("mention_id", "local_id"), "mention_id")
        .filter(F.col("local_id") == F.col("label_id"))
        .select("mention_id")
        .distinct()
        .count()
    )
    n = ms.count()
    ents.unpersist()
    ms.unpersist()
    assert hit / n >= 0.95, hit
