"""Composed training-corpus cleaning plan.

The reference ships each text stage as a separate toolkit pass over the
corpus (tokenize_toolkit.py, ner/el preprocessing each re-read their
input). Here the whole quality gate is ONE declarative plan so Catalyst
fuses it: language ID, quality features, Gopher repetition fractions,
PII counts + redaction are all narrow projections and collapse into the
SINGLE scan stage of the input; the only shuffle in the plan is the
exact-dedup hash aggregation. At 100 TB that is the difference between
reading the corpus once and reading it five times.

Stage order (each is an operator this package already verifies alone):

  documents
    -> lang_id + quality_features + repetition_features   (narrow)
    -> pii_counts + redact_pii                            (narrow)
    -> keep flags (language / quality / repetition gates) (narrow)
    -> exact dedup: window-min id per content sha256      (ONE shuffle)

Returns the fully-tagged frame (every document, with its flags — the
audit view a data pipeline keeps) and the kept frame (the training
view). Near-dup pruning is deliberately NOT chained here: MinHash
banding wants the post-gate corpus persisted, and its cost profile is
a pipeline stage of its own (dedup.minhash_near_duplicates).
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cogie_spark.io.tableio import RunResult, RunScope
from cogie_spark.operators.cc import CheckpointHandle, connected_components
from cogie_spark.operators.pii import pii_counts, redact_pii
from cogie_spark.operators.textstats import (
    lang_id,
    quality_features,
    repetition_features,
)


@dataclass
class CorpusConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    # gates — published-filter-shaped defaults (Gopher table A1 uses
    # 0.30 dup-line / 0.20 top-2gram; quality floor is this engine's
    # composite score, not a learned classifier)
    min_quality: float = 0.3
    max_dup_line_frac: float = 0.30
    max_top_2gram_char_frac: float = 0.20
    langs: tuple[str, ...] = ()  # empty = keep every language
    redact: bool = True


def clean_corpus(docs: DataFrame, cfg: CorpusConfig | None = None) -> Mapping:
    """Run the composed gate. Keys: ``tagged`` (every input row +
    flag/feature columns), ``kept`` (gated + deduplicated, text replaced
    by the redacted form when cfg.redact).

    Each view is built on first access: most callers read only
    ``kept``, and the unread tag chain cost 586 of the 1,288 Py4J
    round-trips of building both views.
    """
    return _CleanViews(docs, cfg or CorpusConfig())


class _CleanViews(Mapping):
    """clean_corpus' two views, each built on first access, then kept."""

    def __init__(self, docs: DataFrame, cfg: CorpusConfig):
        self._build = {
            "tagged": lambda: _tag(docs, cfg),
            "kept": lambda: kept_from_docs(docs, cfg),
        }
        self._views: dict[str, DataFrame] = {}

    def __getitem__(self, key: str) -> DataFrame:
        if key not in self._views:
            self._views[key] = self._build[key]()
        return self._views[key]

    def __iter__(self):
        return iter(self._build)

    def __len__(self) -> int:
        return len(self._build)


def _tag(docs: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """The shared tagging chain (narrow projections only): quality +
    repetition features, PII counts (+ redacted text), language ID and
    the composite ``keep`` flag. Both views derive from this one
    definition so audit and training can never disagree on a gate."""
    t = cfg.text_col
    tagged = quality_features(docs, text_col=t)
    tagged = repetition_features(tagged, text_col=t, top_ngram_ns=(2,), dup_ngram_ns=())
    tagged = pii_counts(tagged, text_col=t)
    if cfg.redact:
        tagged = redact_pii(tagged, text_col=t, out_col="_text_redacted")
    tagged = tagged.withColumn("lang_pred", lang_id(t))

    keep = (
        (F.col("quality_score") >= cfg.min_quality)
        & (F.col("dup_line_frac") <= cfg.max_dup_line_frac)
        & (F.col("top_2gram_char_frac") <= cfg.max_top_2gram_char_frac)
    )
    if cfg.langs:
        keep = keep & F.col("lang_pred").isin(*cfg.langs)
    return tagged.withColumn("keep", keep)


def kept_from_docs(
    docs: DataFrame, cfg: CorpusConfig | None = None, hash_col: str | None = None
) -> DataFrame:
    """Training view built DEDUP-FIRST from the raw corpus: one explicit
    sha-keyed exchange, window-min dedup, then the tag chain and gates
    evaluated POST-shuffle on the surviving distinct documents.

    Why this shape (optimization guide §2.4/§2.5): the tag chain is
    regex-heavy per row, so where it evaluates decides the stage's
    parallelism. Building ``kept`` on top of the tagged lineage puts the
    feature projections and the pushed-down ``keep`` filter BELOW the
    dedup exchange — i.e. inside the input's scan stage, whose width is
    the file/row-group count (1-2 tasks on single-row-group parquet),
    with AQE free to coalesce the post-shuffle side to 1-2 tasks as
    well because the BYTES are small. Here instead:

    - the one exchange is an explicit ``repartition(N, sha(text))`` with
      N = max(defaultParallelism, spark.sql.shuffle.partitions) — AQE
      honors user-specified repartitions, so the post-shuffle stage is
      always cluster-wide regardless of byte volume;
    - the window-min dedup requires exactly that hash partitioning, so
      it reuses the exchange (plan stays at ONE exchange, one scan);
    - every regex gate + the redaction run AFTER the min-id filter —
      once per DISTINCT surviving document instead of once per
      duplicate, and across N tasks.

    Equivalent to ``kept_view(_tag(docs))`` row-for-row: rows of a sha
    group carry byte-identical text, so every gate (all pure functions
    of the text) is constant within a group — gating before or after
    the min-id pick selects the same rows (unit-tested equivalence).
    Trade-off: gated-out rows now cross the exchange too; for corpora
    where the gates drop most bytes AND the input scan is already wide,
    ``kept_view`` over the tagged lineage remains the shuffle-lighter
    form.
    """
    cfg = cfg or CorpusConfig()
    t = cfg.text_col
    spark = docs.sparkSession
    n_part = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "1")),
    )
    sha = F.sha2(F.col(t), 256)

    from pyspark.sql import Window

    deduped = (
        docs.repartition(n_part, sha)
        .withColumn("_min_id", F.min(cfg.id_col).over(Window.partitionBy(sha)))
        .filter(F.col(cfg.id_col) == F.col("_min_id"))
        .drop("_min_id")
    )
    tagged = _tag(deduped, cfg)
    kept = tagged.filter("keep")
    if hash_col:
        kept = kept.withColumn(hash_col, F.sha2(F.col(t), 256))
    if cfg.redact:
        kept = kept.withColumn(t, F.col("_text_redacted")).drop("_text_redacted")
    return kept


def kept_view(
    tagged: DataFrame, cfg: CorpusConfig | None = None, hash_col: str | None = None
) -> DataFrame:
    """Derive the training view from an ALREADY-TAGGED frame (the
    ``tagged`` output of :func:`clean_corpus`, live or re-read from its
    written parquet). Split out so a job that materializes the audit
    view can build ``kept`` from those bytes instead of re-running the
    whole tag plan over the raw corpus — writing both views from the
    same clean_corpus lineage executes the tag stage twice (two full
    corpus scans), exactly the cost this plan exists to avoid.

    ``hash_col``: when set, the PRE-redaction content sha256 (the dedup
    key) is kept as an output column under that name — the handle the
    streaming ingest uses for cross-batch dedup state."""
    cfg = cfg or CorpusConfig()
    t = cfg.text_col
    gated = tagged.filter("keep")
    # exact dedup in the same min-id-per-content-hash shape as the
    # flagship prededup (plans/linkage.py): keep the row whose id is the
    # partition minimum over the content sha256. Window-min instead of
    # groupBy + anti-join keeps the plan at ONE scan of the corpus and
    # ONE shuffle (the groupBy/anti-join form re-reads the gated corpus
    # for the agg build AND the join probe — three scans at 100 TB).
    from pyspark.sql import Window

    sha = F.sha2(F.col(t), 256)
    w = Window.partitionBy(sha)
    kept = gated
    if hash_col:
        kept = kept.withColumn(hash_col, sha)
    kept = (
        kept.withColumn("_min_id", F.min(cfg.id_col).over(w))
        .filter(F.col(cfg.id_col) == F.col("_min_id"))
        .drop("_min_id")
    )
    if cfg.redact:
        kept = kept.withColumn(t, F.col("_text_redacted")).drop("_text_redacted")
    return kept


def near_dup_prune(
    kept: DataFrame,
    cfg: CorpusConfig | None = None,
    method: str = "minhash",
    pairs: DataFrame | None = None,
    **dedup_kwargs,
) -> RunResult:
    """The pipeline stage AFTER :func:`clean_corpus`: near-duplicate
    pruning of the kept corpus — pairs -> transitive groups -> one
    representative per group.

    This is the glue the dedup family deliberately leaves to the
    caller (module docstring): it wants the POST-GATE corpus (fewer
    rows, redacted text) and its cost profile — a banded self-join —
    is a stage of its own, run against a persisted/materialized
    ``kept`` view, never fused into the single-scan tag plan.

    ``method``:
      - 'minhash'  : dedup.minhash_near_duplicates over cfg.text_col
                     (near-dup TEXT at jaccard_threshold, default 0.7);
      - 'semantic' : dedup.semantic_duplicates over an embedding column
                     (pass vec_col=... in ``dedup_kwargs``);
      - pass ``pairs=`` to skip pair generation entirely (any
        (left_id, right_id) table, e.g. a previous run's output read
        back from parquet).

    Grouping is transitive (connected_components — A~B, B~C prunes C
    even when A!~C, the Manku/SemDeDup semantics); the kept
    representative is the group's MINIMUM id (deterministic,
    order-free, same rule as the flagship's exact prededup). Returns
    ``pruned`` (the training view) and ``dup_groups`` (the audit
    table: every non-representative member with its group id) in a
    ``RunResult``: both are lazy over CC's final checkpoint, so consume
    them inside ``with near_dup_prune(...) as out:`` or release after.
    The corpus stream's within-batch prune runs the same step
    (:func:`_prune`) inside its batch scope.

    Scale shape: pair generation is the banded/bucketed family path
    (bounded blocks, logged drops); CC runs on the PAIR graph — near-
    dup graphs are tiny relative to the corpus — and the final prune is
    one id-keyed left-anti-shaped join of the corpus against the
    cluster table, broadcastable whenever dup groups fit the threshold.
    """
    cfg = cfg or CorpusConfig()
    scope = RunScope()
    # the pair generator's caches: CC eagerly materializes its deduped
    # edge seed (localCheckpoint), truncating `groups`' lineage past the
    # pair table, so they release as soon as CC returns instead of
    # living as long as the result (VERDICT r5 #4)
    with RunScope() as dedup_caches:
        if pairs is None:
            if method == "minhash":
                from cogie_spark.operators.dedup import minhash_near_duplicates

                pairs = minhash_near_duplicates(
                    kept, id_col=cfg.id_col, text_col=cfg.text_col,
                    release_into=dedup_caches, **dedup_kwargs
                )
            elif method == "semantic":
                from cogie_spark.operators.dedup import semantic_duplicates

                pairs = semantic_duplicates(kept, id_col=cfg.id_col, **dedup_kwargs)
                dedup_caches.checkpoints.append(CheckpointHandle(pairs))
            else:
                raise ValueError(f"unknown method: {method!r}")
        pruned, dup_groups = _prune(kept, pairs, cfg.id_col, scope)
    return RunResult(scope, pruned=pruned, dup_groups=dup_groups)


def _prune(
    kept: DataFrame, pairs: DataFrame, id_col: str, scope: RunScope
) -> tuple[DataFrame, DataFrame]:
    """Transitive groups of ``pairs`` -> (pruned, dup_groups): ``kept``
    without each group's non-min members, and those members with their
    group id. Both are lazy over CC's final checkpoint, which goes to
    ``scope.checkpoints``."""
    groups = connected_components(
        pairs.select("left_id", "right_id"), release_into=scope.checkpoints
    )
    members = groups.select(
        F.col("file_id").alias(id_col), F.col("cluster_id").alias("dup_group_id")
    )
    # representative = the group's min id == the cluster_id itself, so
    # the prune is "drop every member whose id != its group id";
    # singletons never appear in the CC output and survive the
    # left join with a NULL group id
    pruned = (
        kept.join(members, id_col, "left")
        .filter(F.col("dup_group_id").isNull() | (F.col("dup_group_id") == F.col(id_col)))
        .drop("dup_group_id")
    )
    return pruned, members.filter(F.col("dup_group_id") != F.col(id_col))
