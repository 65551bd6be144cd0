"""M1 end-to-end: the flagship linkage pipeline reaches pairwise F1 >= 0.99
on the deterministic fixture at the shared blocking key (BASELINE.json),
and connected components is exact on hand-built graphs."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from cogie_spark.fixtures.codefiles import code_files, labeled_pairs
from cogie_spark.io.tableio import RunScope
from cogie_spark.operators.cc import connected_components
from cogie_spark.operators.metrics import bcubed, blocking_quality, pairwise_prf
from cogie_spark.plans.linkage import (
    LinkageConfig,
    predicted_pairs_from_clusters,
    run_linkage,
)


def test_connected_components_exact(spark):
    edges = spark.createDataFrame(
        [
            ("b", "a"), ("c", "b"),          # component {a,b,c} -> a
            ("e", "d"),                       # component {d,e}   -> d
            ("x", "y"), ("y", "z"), ("x", "z"),  # {x,y,z} -> x
        ],
        ["left_id", "right_id"],
    )
    with RunScope() as scope:
        comp = connected_components(edges, release_into=scope.checkpoints)
        got = {r["file_id"]: r["cluster_id"] for r in comp.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "x": "x", "y": "x", "z": "x"}


def test_cc_long_chain(spark):
    # a path graph of 40 nodes — worst case for label propagation,
    # log-round for large/small-star
    ids = [f"n{i:03d}" for i in range(40)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(39)], ["left_id", "right_id"]
    )
    with RunScope() as scope:
        got = connected_components(edges, release_into=scope.checkpoints).collect()
    assert len(got) == 40
    assert {r["cluster_id"] for r in got} == {"n000"}


def test_flagship_f1(spark):
    files = code_files(spark, n_groups=80, seed=42, with_truth=True)
    lp = labeled_pairs(files).cache()
    engine_input = files.drop("group_id", "member_idx")
    with run_linkage(engine_input, LinkageConfig()) as out:
        pred = predicted_pairs_from_clusters(out["clusters"])
        m = pairwise_prf(pred, lp)
        assert m["f1"] >= 0.99, m
        # every input file got a cluster
        assert out["clusters"].count() == engine_input.count()
        # per-record view of the same run: B-cubed weights every member
        # equally (pairwise F1 weights big clusters quadratically), so a
        # high score on BOTH rules out the quadratic metric masking
        # mis-clustered singletons
        truth = files.select("file_id", F.col("group_id").alias("entity_id"))
        b3 = bcubed(out["clusters"], truth).collect()[0]
        assert b3["bcubed_f1"] >= 0.99, dict(b3.asDict())
        # blocking stage, evaluated in REPRESENTATIVE space: exact prededup
        # resolves byte-identical true pairs before blocking (they map to
        # the same rep), so pair completeness is over rep-distinct true
        # pairs vs the candidate table
        f2r = out["file2rep"]
        lp_rep = (
            lp.filter("is_match")
            .join(f2r.toDF("left_id", "_rl"), "left_id")
            .join(f2r.toDF("right_id", "_rr"), "right_id")
            .filter("_rl != _rr")
            .select(
                F.least("_rl", "_rr").alias("left_id"),
                F.greatest("_rl", "_rr").alias("right_id"),
                F.lit(True).alias("is_match"),
            )
            .distinct()
        )
        n_reps = f2r.select("_rep_id").distinct().count()
        bq = blocking_quality(out["pairs"], lp_rep, n_records=n_reps).collect()[0]
        assert bq["pair_completeness"] >= 0.99, dict(bq.asDict())
        assert bq["reduction_ratio"] >= 0.9, dict(bq.asDict())
    lp.unpersist()


def test_blocking_recall(spark):
    """All true pairs must survive blocking (recall gate before scoring)."""
    from cogie_spark.operators.blocking import (
        bands_from_signatures,
        candidate_pairs,
        signature_table,
    )

    files = code_files(spark, n_groups=60, seed=42, with_truth=True)
    lp = labeled_pairs(files).filter("is_match").select("left_id", "right_id")
    # portable char-shingle family, 32 permutations, 16 bands x 2 rows
    sigs = signature_table(files.drop("group_id", "member_idx"), num_perm=32, mode="portable")
    blocks = bands_from_signatures(sigs, bands=16, rows_per_band=2)
    with RunScope() as scope:
        pairs, _ = candidate_pairs(blocks, release_into=scope)
        missed = lp.join(pairs, ["left_id", "right_id"], "left_anti").count()
    total = lp.count()
    assert missed <= max(1, int(0.002 * total)), f"blocking missed {missed}/{total}"


def test_exact_prededup_clusters_identical_content(spark):
    """Byte-identical files must cluster even when LSH blocks are capped
    (they collapse to one representative before blocking)."""
    from pyspark.sql import functions as F

    files = code_files(spark, n_groups=20, seed=42).limit(30).withColumn(
        "content", F.lit("int main() { return 0; }")
    )
    files = files.withColumn("sha256", F.sha2("content", 256)).withColumn(
        "file_id", F.sha2(F.concat_ws("", "repo", "path", "commit"), 256)
    )
    with run_linkage(files, LinkageConfig(max_block_size=4)) as out:
        n_clusters = out["clusters"].select("cluster_id").distinct().count()
        n_rows = out["clusters"].count()
    assert n_clusters == 1
    assert n_rows == 30


def test_salted_hot_blocks(spark):
    """A hot block (size >> cap) must be salted, not dropped: join tasks
    stay bounded, and band multiplicity recovers most pairs."""
    from pyspark.sql import functions as F

    from cogie_spark.operators.blocking import candidate_pairs

    # synth block table: 200 ids sharing every one of 16 bands
    ids = spark.range(200).select(F.format_string("f%04d", "id").alias("file_id"))
    bands = spark.range(16).select(F.col("id").cast("int").alias("band_id"))
    blocks = ids.crossJoin(bands).select(
        "file_id", F.lit("python").alias("lang"), "band_id",
        F.concat(F.lit("hot"), F.col("band_id").cast("string")).alias("band_hash"),
    )
    with RunScope() as scope:
        pairs, dropped = candidate_pairs(
            blocks, max_block_size=32, salvage_factor=32, release_into=scope
        )
        n, n_dropped = pairs.count(), dropped.count()
    full = 200 * 199 // 2
    assert n_dropped == 0
    # band-multiplicity recovery: expect >= 90% of pairs, but never more
    assert 0.9 * full <= n <= full, (n, full)

    # beyond the salvage tier -> dropped and reported
    with RunScope() as scope:
        pairs2, dropped2 = candidate_pairs(
            blocks, max_block_size=2, salvage_factor=4, release_into=scope
        )
        assert dropped2.count() == 16
        assert pairs2.count() == 0


def test_cascade_8bit_estimate_never_below_full_width(spark):
    """The cascade's 8-bit signature is recall-safe: the tinyint cast
    preserves equality, so per candidate pair its agreement estimate is
    never below the full 64-bit one — the floor keeps a superset of the
    pairs a full-width cascade keeps, and the exact scorers decide the
    edges."""
    from cogie_spark.operators.blocking import estimate_jaccard, signature_table
    from cogie_spark.plans.linkage import cascade_pairs, candidates, prededup

    files = code_files(spark, n_groups=40, seed=7)
    cfg = LinkageConfig()
    with RunScope() as scope:
        reps, _ = prededup(files, cfg, scope)
        sigs = scope.persist(signature_table(
            reps, id_col=cfg.id_col, key_cols=cfg.key_cols, num_perm=cfg.num_perm,
            mode=cfg.signature_mode,
        ))
        _, pairs, _, _ = candidates(sigs, cfg, scope)
        pairs = scope.persist(pairs.select("left_id", "right_id"))
        # floor 0 keeps every candidate pair with its 8-bit estimate
        est8 = cascade_pairs(
            pairs, sigs, reps, LinkageConfig(prefilter_est_jaccard=0.0), release_into=scope
        ).select("left_id", "right_id", F.col("est_jaccard").alias("est8"))
        side = sigs.select(cfg.id_col, "sig")
        full = (
            pairs.join(side.toDF("left_id", "_ls"), "left_id")
            .join(side.toDF("right_id", "_rs"), "right_id")
            .select("left_id", "right_id",
                    estimate_jaccard("_ls", "_rs", cfg.num_perm).alias("est64"))
        )
        rows = est8.join(full, ["left_id", "right_id"]).collect()
        n_pairs = pairs.count()
    assert n_pairs > 0 and len(rows) == n_pairs
    assert all(r["est8"] >= r["est64"] for r in rows)
    # the check is not vacuous: some pairs are not full-width identical
    assert any(r["est64"] < 1.0 for r in rows)


def test_linkage_config_fields_are_the_caller_set():
    """LinkageConfig's fields are exactly the settings a caller sets;
    everything else is a class constant that cannot be passed."""
    assert [f.name for f in dataclasses.fields(LinkageConfig)] == [
        "id_col", "bands", "max_block_size", "threshold", "prefilter_est_jaccard",
        "cc_check_every", "weights",
    ]
    assert LinkageConfig().num_perm == 64
    with pytest.raises(TypeError):
        LinkageConfig(num_perm=32)


def _signature_inputs(df) -> list[str]:
    """The input subtree of every signature aggregate (the one whose
    output is ``sig``) in ``df``'s analyzed plan."""
    found, todo = [], [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Aggregate" and " AS sig#" in node.simpleString(8):
            found.append(node.child().treeString())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return found


def test_handed_signatures_cluster_like_run_linkage(spark):
    """The link stream's signature hand-off: the stage composition fed
    signatures already computed for a superset of its rows clusters
    them exactly as run_linkage does, and its pair table computes no
    second signature aggregate over the representatives — every one in
    its lineage is the handed table's, over the raw rows."""
    from cogie_spark.plans.linkage import _link, signatures

    files = code_files(spark, n_groups=30, seed=7)
    cfg = LinkageConfig()
    with run_linkage(files, cfg) as out:
        want = {tuple(r) for r in out["clusters"].collect()}
        own = _signature_inputs(out["pairs"])
    assert own and all("_rep_id" in t for t in own)
    with RunScope() as scope:
        sigs = scope.persist(signatures(files, cfg))
        out = _link(files, cfg, scope, batch_sigs=sigs)
        got = {tuple(r) for r in out["clusters"].collect()}
        handed = _signature_inputs(out["pairs"])
    assert handed and not any("_rep_id" in t for t in handed)
    assert got == want


def test_run_result_carries_blocking_stats(spark):
    """run_linkage returns the blocking precheck's stats record: the
    same keys and values candidate_pairs(stats_into=) fills for the
    run's own signatures."""
    from cogie_spark.operators.blocking import candidate_pairs
    from cogie_spark.plans.linkage import bands, prededup, signatures

    files = code_files(spark, n_groups=30, seed=7)
    cfg = LinkageConfig()
    with run_linkage(files, cfg) as out:
        stats = out["blocking_stats"]
    want: dict = {}
    with RunScope() as scope:
        reps, _ = prededup(files, cfg, scope)
        candidate_pairs(
            bands(signatures(reps, cfg), cfg), id_col=cfg.id_col, key_cols=cfg.key_cols,
            max_block_size=cfg.max_block_size, release_into=scope, stats_into=want,
        )
    assert set(stats) == {"max_block_size", "n_block_rows", "n_dropped_blocks"}
    assert stats == want
