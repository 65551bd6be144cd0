"""Tests of the benchmark itself: run from the repository root with

    python3 -m pytest perfbench/tests -q

The command tests start Spark at tiny input sizes (a few minutes in
all); the others are pure Python.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import defaultdict

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(workload: str, trace: int, seed: int = 5) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_end_to_end_metric_printed_with_its_unit(workload):
    out = run_bench(workload, trace=0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric_and_passes_drift_guard():
    out = run_bench(BENCH["workloads"][0]["name"], trace=1)
    assert out["correct"], "a traced operation failed (drift guard or output check)"
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["scoring.pairs_scored"] > 0 and m["spark.link.jobs"] > 0
    assert m["stream.jobs_per_batch"] > 0 and m["dedup.pairs"] >= 50  # q32's own clones


# ------------------------------------------------------------ pure checks


def _truth(n_groups: int, seed: int):
    """Correct clustering and labeled pairs of a code-files table, from
    its ground-truth group ids."""
    t = W.code_file_table(n_groups, seed).to_pylist()
    groups = defaultdict(list)
    for r in t:
        groups[r["group_id"]].append(r["file_id"])
    rows = [(f, min(fs)) for fs in groups.values() for f in fs]
    labeled = [(min(a, b), max(a, b), True) for fs in groups.values()
               for i, a in enumerate(fs) for b in fs[i + 1:]]
    reps = [min(fs) for fs in groups.values()]
    labeled += [(min(a, b), max(a, b), False) for a, b in zip(reps, reps[1:])]
    return rows, [r["file_id"] for r in t], labeled


def test_check_accepts_the_true_clustering():
    rows, ids, labeled = _truth(40, 3)
    assert W.check_clusters(rows, ids, labeled) == ([], 1.0)


def test_corrupted_cluster_output_fails_the_check():
    rows, ids, labeled = _truth(40, 3)
    assert W.check_clusters(rows[1:], ids, labeled)[0], "a dropped row must fail"
    assert W.check_clusters(rows + rows[:1], ids, labeled)[0], "a duplicated row must fail"
    big = max({c for _, c in rows}, key=lambda c: sum(x == c for _, x in rows))
    renamed = [(f, c + "x" if c == big else c) for f, c in rows]
    assert W.check_clusters(renamed, ids, labeled)[0], "a non-minimum cluster id must fail"
    merged = [(f, rows[0][1]) for f, _ in rows]
    problems, f1 = W.check_clusters(merged, ids, labeled, min_ids=False)
    assert problems and f1 < W.F1_FLOOR, "one big cluster must fail on F1"


def test_corrupted_near_dup_output_fails_the_check():
    rows = W.with_q32_clones(W.corpus_rows(200, 4))
    expected = W.near_dup_oracle(rows)
    assert W.check_near_dups(list(expected), expected) == []
    assert W.check_near_dups(expected[1:], expected)
    a, b, j = expected[0]
    assert W.check_near_dups([(a, b, j - 0.01)] + expected[1:], expected)


def test_seed_changes_the_input_and_repeats_it():
    assert W.code_file_table(20, 1).equals(W.code_file_table(20, 1))
    assert not W.code_file_table(20, 1).equals(W.code_file_table(20, 2))
    assert W.corpus_rows(100, 1) == W.corpus_rows(100, 1)
    assert W.corpus_rows(100, 1) != W.corpus_rows(100, 2)
    assert W.stream_seed(1) != 1


def test_staged_rows_and_labeled_pairs_match_the_fixture():
    from cogie_spark.fixtures.codefiles import code_files, labeled_pairs
    from cogie_spark.session import get_spark

    spark = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    try:
        table = W.code_file_table(60, 11)
        fixture = code_files(spark, n_groups=60, seed=11, with_truth=True)
        rows = sorted(tuple(r) for r in fixture.collect())
        want = labeled_pairs(fixture).collect()
    finally:
        spark.stop()
    assert sorted(tuple(r.values()) for r in table.to_pylist()) == rows
    assert sorted(W.labeled_pairs(table)) == sorted(
        (r.left_id, r.right_id, r.is_match) for r in want
    )


def test_near_dup_oracle_matches_duckdb_oracle_sql():
    duckdb = pytest.importorskip("duckdb")
    from cogie_spark.queries import ORACLES

    docs = W.corpus_rows(150, 9)
    con = duckdb.connect()
    con.register("documents_arrow", W.corpus_table(docs))
    con.execute("CREATE TABLE documents AS SELECT * FROM documents_arrow")
    res = con.execute(ORACLES["q32_minhash_near_dup"])
    cols = [d[0] for d in res.description]
    assert sorted(cols) == sorted(W.PAIR_COLS)
    got = [tuple(dict(zip(cols, r))[c] for c in W.PAIR_COLS) for r in res.fetchall()]
    assert len(got) >= 50
    assert W.check_near_dups(got, W.near_dup_oracle(W.with_q32_clones(docs))) == []
