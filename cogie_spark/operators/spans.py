"""Sequence-labeling span operators: BIO/BIOES/BMES/BMESO decode via
sessionization.

Distributed restatement of the reference's stateful tag scans
(_bio_tag_to_spans /root/reference/cogie/core/metrics.py:485-505,
_bioes_tag_to_spans :464-483, _bmes_tag_to_spans :419-437,
_bmeso_tag_to_spans :440-461; invoked from ner_toolkit.py:212-229): the
prev-tag state machine becomes lag() over a position window, new-span
flags become a running sum() segment id, and spans fall out of a
groupBy — classic sessionization (SURVEY.md §2.5 W5).

Faithfulness notes vs the reference:
- the WHOLE tag is lowercased before decoding (the reference lowercases
  the whole tag, metrics.py:425), so both the continuation predicate and
  the emitted span label are case-insensitive: 'B-PER' followed by
  'I-per' continues one 'per' span, exactly as the reference decoders do
  (ADVICE r2 #1).
- continuation is judged against the IMMEDIATELY PRECEDING token's
  prefix+label, which equals the reference's "prev tag in {...} and
  label == spans[-1][0]" check: every non-O token carries its own
  span's label, so the prev token's label IS the last span's label.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# scheme -> (continuation prefixes, allowed prev prefixes, outside prefixes)
# mirroring the four reference decoders cited above.
SCHEMES: dict[str, dict[str, tuple[str, ...]]] = {
    "bio": {"cont": ("i",), "prev": ("b", "i"), "o": ("o",)},
    "bioes": {"cont": ("i", "e"), "prev": ("b", "i"), "o": ("o",)},
    "bmes": {"cont": ("m", "e"), "prev": ("b", "m"), "o": ()},
    "bmeso": {"cont": ("m", "e"), "prev": ("b", "m"), "o": ("o",)},
}


def tag_spans_decode(tokens_df: DataFrame, scheme: str = "bio") -> DataFrame:
    """(doc_id, sent_id, pos, token, tag) -> spans
    (doc_id, sent_id, label, start, end, text); end is exclusive.

    A continuation tag whose prefix/label does not legally continue the
    previous token starts a new span (the reference's trailing ``else:
    spans.append(...)`` branch); outside tags are dropped.
    """
    spec = SCHEMES[scheme]
    w = Window.partitionBy("doc_id", "sent_id").orderBy("pos")
    prefix = F.lower(F.substring("tag", 1, 1))
    label = F.lower(F.substring("tag", 3, 1000))
    prev_prefix = F.lag(prefix).over(w)
    prev_label = F.lag(label).over(w)
    is_o = prefix.isin(*spec["o"]) if spec["o"] else F.lit(False)
    continues = (
        prefix.isin(*spec["cont"])
        & prev_prefix.isin(*spec["prev"])
        & (prev_label == label)
    )
    new_span = (~is_o & ~F.coalesce(continues, F.lit(False))).cast("int")
    tagged = (
        tokens_df.withColumn("_label", label)
        .withColumn("_is_o", is_o.cast("int"))
        .withColumn("_new", new_span)
        .withColumn("_seg", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        tagged.filter(F.col("_is_o") == 0)
        .groupBy("doc_id", "sent_id", "_seg", "_label")
        .agg(
            F.min("pos").alias("start"),
            (F.max("pos") + 1).alias("end"),
            # collect_list after the shuffle is order-nondeterministic:
            # sort (pos, token) structs before concatenating
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
            ).alias("text"),
        )
        .select(
            "doc_id", "sent_id", F.col("_label").alias("label"), "start", "end", "text"
        )
    )
