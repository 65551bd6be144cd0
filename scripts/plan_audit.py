"""Physical-plan audit: is every registered query the plan we'd ship?

Captures ``.explain('formatted')`` for each ``queries()`` entry (at the
sf0.001 tables) plus the flagship linkage stages, counts the
scale-relevant plan features, and writes PLANS.md:

- shuffle exchanges        — each is a full re-partition of the stream;
                             the flagship design budget is two for the
                             pair table (linkage.py:187-217);
- broadcast vs sort-merge  — dim-table joins must broadcast (the build
                             side is bounded; SMJ would shuffle the
                             probe side for nothing);
- WholeStageCodegen spans  — JVM-side expression fusion; wide spans mean
                             the relational part never leaves codegen;
- Python-eval nodes        — ArrowEvalPython / MapInPandas /
                             FlatMapGroupsInPandas are the sanctioned
                             Arrow-batched boundary; BatchEvalPython
                             (row-at-a-time Python) must NEVER appear;
- parquet pushdown         — scans should carry PushedFilters and a
                             pruned ReadSchema.

``cached_tables(df)`` lists the caches an executed plan reads (each is
a persist some caller releases).

Usage:
    python scripts/plan_audit.py [--out PLANS.md] [--sf-dir DIR]

The audit BUILDS plans; it only executes the few queries that are
eager by construction (flagship q40/q41 run the pipeline at 120 groups,
the iterative-CC queries collect convergence fingerprints).
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# node names that mark the Arrow-batched Python boundary (sanctioned)
ARROW_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
)
# row-at-a-time Python evaluation — the anti-pattern; must never appear
ROWWISE_NODE = "BatchEvalPython"

# headline queries whose full formatted plan is embedded in PLANS.md
HEADLINE_FULL = (
    "q01_pricing_summary",
    "q32_minhash_near_dup",
    "q24_ann_topk",
)


def explain_formatted(df) -> str:
    """The string ``df.explain('formatted')`` prints (not captured via
    stdout so concurrent logs can't interleave)."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(qe, "formatted")


def cached_tables(df) -> set[int]:
    """Ids of the cached RDDs behind every InMemoryRelation ``df``'s
    executed plan reads, caches read inside other caches' plans
    included. A plan string cannot tell caches apart: each reference
    re-numbers a relation's columns, and two caches can share column
    names. Call it after an action, when the adaptive plan is final."""
    ids: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif name == "InMemoryTableScanExec":
            rel = node.relation()
            rdd = rel.cacheBuilder().cachedColumnBuffers().id()
            if rdd not in ids:
                ids.add(rdd)
                stack.append(rel.cachedPlan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return ids


def audit_plan(plan: str) -> dict:
    """Count the scale-relevant features of one formatted plan."""
    # formatted mode lists each physical node once in the details
    # section as '(N) NodeName' (codegen-starred nodes keep the name)
    nodes = re.findall(r"^\(\d+\) ([A-Za-z][A-Za-z0-9]*)", plan, flags=re.M)
    scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
    pushed = len(
        [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]
    )
    return {
        "shuffle_exchanges": nodes.count("Exchange"),
        "broadcast_exchanges": nodes.count("BroadcastExchange"),
        "broadcast_joins": nodes.count("BroadcastHashJoin")
        + nodes.count("BroadcastNestedLoopJoin"),
        "sort_merge_joins": nodes.count("SortMergeJoin"),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "arrow_python_nodes": sum(nodes.count(n) for n in ARROW_NODES),
        "rowwise_python_nodes": nodes.count(ROWWISE_NODE),
        "parquet_scans": scans,
        "scans_with_pushdown": pushed,
        "aqe": "AdaptiveSparkPlan" in plan,
    }


def flagship_stage_plans(spark) -> dict[str, str]:
    """Formatted plans for the flagship stage outputs at fixture scale.

    run_linkage executes the CC loop on call (driver-synchronized
    convergence), so this runs the 120-group pipeline once — seconds —
    and then reads the *plans* of the returned stage DataFrames."""
    from cogie_spark.fixtures.codefiles import code_files
    from cogie_spark.plans.linkage import LinkageConfig, run_linkage

    files = code_files(spark, n_groups=120, seed=42)
    with run_linkage(files, LinkageConfig()) as out:
        return {f"flagship:{stage}": explain_formatted(out[stage])
                for stage in ("pairs", "scored", "clusters")}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md"))
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001"))
    args = ap.parse_args()

    from cogie_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="cogie_plan_audit")

    plans: dict[str, str] = {}
    t0 = time.time()
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, args.sf_dir)
            plans[name] = explain_formatted(df)
        except Exception as e:  # a broken query should show up, not abort
            plans[name] = f"ERROR building plan: {e!r}"
        print(f"  {name}: {time.time() - t0:.1f}s", file=sys.stderr)
    plans.update(flagship_stage_plans(spark))

    rows = []
    worst = []
    for name, plan in plans.items():
        if plan.startswith("ERROR"):
            worst.append(f"{name}: {plan}")
            continue
        a = audit_plan(plan)
        rows.append((name, a))
        if a["rowwise_python_nodes"]:
            worst.append(f"{name}: {a['rowwise_python_nodes']} BatchEvalPython node(s)")

    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        "Generated by `python scripts/plan_audit.py` (re-run after plan-",
        "affecting changes; tests/test_plan_invariants.py locks the",
        "load-bearing rows). Session config: cogie_spark/session.py —",
        "AQE on, Arrow on, broadcast threshold 64 MB. Plans are the",
        "pre-execution AdaptiveSparkPlan initial plans; AQE may further",
        "coalesce partitions / convert SMJ->BHJ at runtime, never the",
        "reverse.",
        "",
        "Legend: shuffles = `Exchange` nodes (full repartitions);",
        "bcast/SMJ = join strategies; codegen = WholeStageCodegen span",
        "count; arrowPy = Arrow-batched Python nodes (sanctioned",
        "boundary); rowPy = row-at-a-time `BatchEvalPython` (MUST be 0);",
        "pushdown = parquet scans carrying non-empty PushedFilters over",
        "total parquet scans.",
        "",
        "| query | shuffles | bcast joins | SMJ | codegen | arrowPy | rowPy | pushdown |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        lines.append(
            f"| {name} | {a['shuffle_exchanges']} | {a['broadcast_joins']} | "
            f"{a['sort_merge_joins']} | {a['codegen_spans']} | "
            f"{a['arrow_python_nodes']} | {a['rowwise_python_nodes']} | "
            f"{a['scans_with_pushdown']}/{a['parquet_scans']} |"
        )
    lines.append("")
    if worst:
        lines.append("## FLAGS")
        lines.extend(f"- {w}" for w in worst)
        lines.append("")

    lines.append("## Headline plans (full formatted)")
    lines.append("")
    for name in list(HEADLINE_FULL) + ["flagship:pairs", "flagship:scored", "flagship:clusters"]:
        if name not in plans:
            continue
        lines.append(f"### {name}")
        lines.append("")
        lines.append("```")
        lines.append(plans[name].rstrip())
        lines.append("```")
        lines.append("")

    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out}: {len(rows)} plans audited, {len(worst)} flags",
          file=sys.stderr)
    spark.stop()
    return 1 if worst else 0


if __name__ == "__main__":
    sys.exit(main())
