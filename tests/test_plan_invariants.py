"""Physical-plan regression guards.

The engine's scale story rests on plan-shape properties (PLANS.md,
generated by scripts/plan_audit.py). Lock the load-bearing ones so a
regression fails in `pytest tests/` instead of surfacing as a slower
plan on a judge round:

- NO row-at-a-time Python (`BatchEvalPython`) in any registered query —
  every Python boundary is Arrow-batched (ArrowEvalPython/MapInPandas/
  FlatMapGroupsInPandas), the 10-100x cheaper path;
- dim-table joins resolve to BroadcastHashJoin at plan time, not
  SortMergeJoin (the build side is bounded; SMJ would shuffle the fact
  side for nothing);
- selective parquet scans carry PushedFilters and a pruned ReadSchema;
- the flagship pipeline's scored-pairs plan stays inside its shuffle
  budget (the pair table is designed to shuffle exactly twice,
  linkage.py:187-217; the whole-stage plan including blocking and
  input prep is bounded below).
"""

from __future__ import annotations

import os
import re
import sys

import pytest

_SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
if _SCRIPTS not in sys.path:
    sys.path.insert(0, _SCRIPTS)

from plan_audit import audit_plan, cached_tables, explain_formatted  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"driver testdata not present at {SF_DIR}"
)


@needs_testdata
def test_no_rowwise_python_in_any_registered_query(spark):
    """Every plan's Python boundary is Arrow-batched — zero
    BatchEvalPython nodes across the whole registered inventory."""
    from cogie_spark.queries import QUERIES

    offenders = {}
    for name, fn in QUERIES.items():
        plan = explain_formatted(fn(spark, SF_DIR))
        a = audit_plan(plan)
        if a["rowwise_python_nodes"]:
            offenders[name] = a["rowwise_python_nodes"]
    # q32 caches its input and the near-dup operator's tables while it
    # plans (the blocking precheck runs eagerly) and returns a lazy
    # frame through the query contract, so its caller drops them
    spark.catalog.clearCache()
    assert not offenders, f"row-wise Python UDF nodes in: {offenders}"


@needs_testdata
def test_selective_scan_pushes_and_prunes(spark):
    """q01's lineitem scan must push its date filter into the parquet
    reader and read only the columns the query touches."""
    from cogie_spark.queries import QUERIES

    plan = explain_formatted(QUERIES["q01_pricing_summary"](spark, SF_DIR))
    a = audit_plan(plan)
    assert a["parquet_scans"] == 1
    assert a["scans_with_pushdown"] == 1, "q01 filter not pushed to parquet"
    # lineitem has 16 columns; q01 needs 6 (5 aggregated/grouped + the
    # filter column) — a full-width scan means pruning regressed
    widths = [int(w) for w in re.findall(r"^\(\d+\) Scan parquet ?\nOutput \[(\d+)\]",
                                         plan, flags=re.M)]
    assert widths and max(widths) <= 7, f"q01 scan width {widths} — pruning regressed"


@needs_testdata
def test_dim_joins_broadcast(spark):
    """Bounded dim-table joins (nation/region/label maps) must resolve
    to broadcast joins at plan time — no sort-merge shuffle."""
    from cogie_spark.queries import QUERIES

    for name in ("q04_enrich_join", "q05_left_join_unk", "q06_membership_joins"):
        a = audit_plan(explain_formatted(QUERIES[name](spark, SF_DIR)))
        assert a["broadcast_joins"] >= 1, f"{name}: dim join not broadcast"
        assert a["sort_merge_joins"] == 0, f"{name}: SMJ crept into a dim join"
        assert a["shuffle_exchanges"] == 0, f"{name}: dim join introduced a shuffle"


def test_flagship_scored_plan_budget(spark):
    """The flagship scored-pairs plan stays inside its shuffle budget
    and keeps every Python boundary Arrow-batched.

    PLANS.md records 10 Exchanges for the full stage (blocking
    signature build + bucket agg + the pair table's two designed
    shuffles + input prep); the bound leaves +2 headroom for
    AQE-neutral refactors, and a jump past it means a new full
    repartition of the pair stream entered the hot path."""
    from cogie_spark.fixtures.codefiles import code_files
    from cogie_spark.plans.linkage import LinkageConfig, run_linkage

    files = code_files(spark, n_groups=60, seed=7)
    with run_linkage(files, LinkageConfig()) as out:
        a = audit_plan(explain_formatted(out["scored"]))
    assert a["rowwise_python_nodes"] == 0
    assert a["arrow_python_nodes"] >= 1, "scorers must run as Arrow-batched pandas UDFs"
    assert a["shuffle_exchanges"] <= 12, (
        f"scored plan now has {a['shuffle_exchanges']} shuffles — "
        "a new repartition entered the flagship hot path"
    )


@needs_testdata
def test_q32_verify_fused_into_cascade(spark):
    """q32 scores the exact Jaccard in the cascade's own query: after
    collect, the plan reads three caches only — the input scan, the
    signatures and the block table, none of the cascade output — and
    its final plan builds the shingle sets in the cascade's side table
    (``arrays_zip`` x2, one per side) and intersects them once. The
    counts read the top-level final plan only: the initial plan and
    every cached subplan are printed again beside it."""
    from cogie_spark.queries import QUERIES

    df = QUERIES["q32_minhash_near_dup"](spark, SF_DIR)
    try:
        df.collect()
        cached = cached_tables(df)
        final = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.catalog.clearCache()
    assert len(cached) == 3, cached
    top = final.split("\n+- == Initial Plan ==")[0]
    assert "isFinalPlan=true" in top
    assert top.count("arrays_zip(") == 2, top
    assert top.count("array_intersect(") == 1, top
