"""Incremental linkage: two consecutive micro-batches through the same
foreachBatch handler; later duplicates must join the clusters formed by
earlier batches."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from cogie_spark.fixtures.codefiles import code_files
from cogie_spark.io.tableio import TableIO, read_json
from cogie_spark.streaming.incremental import incremental_link_batch


def test_incremental_two_batches(spark):
    files = code_files(spark, n_groups=12, seed=42, with_truth=True).cache()
    # batch 1: member_idx 0 of every group; batch 2: the mutated copies
    b1 = files.filter("member_idx = 0").drop("group_id", "member_idx")
    b2 = files.filter("member_idx > 0").drop("group_id", "member_idx")
    truth = {
        r["file_id"]: r["group_id"]
        for r in files.select("file_id", "group_id").collect()
    }

    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_stream_"))
    a1 = incremental_link_batch(b1, state, batch_id=0)
    assert a1.count() == b1.count()

    # per-batch cost contract: signature_table must only ever see the
    # incoming batch (and its unassigned remainder), NEVER the
    # accumulated state — state rows carry persisted sigs. The stream
    # reaches it through the linkage stages.
    import cogie_spark.plans.linkage as stage_mod

    sig_input_sizes: list[int] = []
    orig_sig = stage_mod.signature_table

    def counting_sig(df, **kw):
        sig_input_sizes.append(df.count())
        return orig_sig(df, **kw)

    stage_mod.signature_table = counting_sig
    try:
        a2 = incremental_link_batch(b2, state, batch_id=1)
        assert a2.count() == b2.count()
    finally:
        stage_mod.signature_table = orig_sig
    n_b2 = b2.count()
    assert sig_input_sizes and all(n <= n_b2 for n in sig_input_sizes), (
        f"signature_table saw more rows than the batch: {sig_input_sizes} vs {n_b2}"
    )

    # every batch-2 row must land in the cluster of its group's base row
    members = spark.read.parquet(f"{state.base}/members_delta_*")
    got = {r["file_id"]: r["cluster_id"] for r in members.select("file_id", "cluster_id").collect()}
    assert len(got) == files.count()
    # group -> set of cluster ids among members; each group must be one cluster
    by_group: dict[int, set] = {}
    for fid, gid in truth.items():
        by_group.setdefault(gid, set()).add(got[fid])
    frag = {g: cs for g, cs in by_group.items() if len(cs) > 1}
    assert not frag, f"groups split across clusters: {frag}"
    files.unpersist()


def test_stream_refuses_other_id_col(spark, tmp_path):
    """The stream's state is keyed on file_id: a config naming another id
    column is refused before anything runs or is written."""
    from cogie_spark.plans.linkage import LinkageConfig

    batch = spark.createDataFrame([("r1", "python", "x")], "rec_id string, lang string, content string")
    state = TableIO(spark, str(tmp_path / "state"))
    with pytest.raises(ValueError, match="file_id"):
        incremental_link_batch(batch, state, cfg=LinkageConfig(id_col="rec_id"))
    assert not os.path.exists(tmp_path / "state") or not os.listdir(tmp_path / "state")


def test_state_bands_persisted_not_recomputed(spark):
    """VERDICT r2 #3: banding the accumulated state must come from the
    persisted band deltas — bands_from_signatures (which the stream
    reaches through the linkage stages) only ever sees the incoming
    batch's rows, never O(state) input."""
    import cogie_spark.plans.linkage as stage_mod

    files = code_files(spark, n_groups=10, seed=42).cache()
    b1 = files.filter("member_idx = 0").drop("group_id", "member_idx")
    b2 = files.filter("member_idx > 0").drop("group_id", "member_idx")
    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_bands_"))
    incremental_link_batch(b1, state, batch_id=0)

    band_input_sizes: list[int] = []
    orig = stage_mod.bands_from_signatures

    def counting(df, **kw):
        band_input_sizes.append(df.count())
        return orig(df, **kw)

    stage_mod.bands_from_signatures = counting
    try:
        incremental_link_batch(b2, state, batch_id=1)
    finally:
        stage_mod.bands_from_signatures = orig
    n_b2 = b2.count()
    assert band_input_sizes and all(n <= n_b2 for n in band_input_sizes), (
        f"bands_from_signatures saw state-sized input: {band_input_sizes} vs batch {n_b2}"
    )
    # the band deltas exist on disk, one per batch, and cover all rows
    import json

    manifest = json.loads((state.base / "_state_manifest.json").read_text())
    assert len(manifest["batches"]) == 2
    bands = spark.read.parquet(*[str(state.base / b["bands"]) for b in manifest["batches"]])
    assert bands.count() == files.count() * 16  # 16 bands per file
    assert set(bands.columns) == {"file_id", "lang", "band_id", "band_hash"}
    files.unpersist()


def test_stream_wiring_availablenow(spark):
    """Real readStream -> foreachBatch -> state path over a file source."""
    import tempfile

    from cogie_spark.streaming.incremental import start_incremental_stream

    src = tempfile.mkdtemp(prefix="stream_src_")
    state_dir = tempfile.mkdtemp(prefix="stream_state_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    files = code_files(spark, n_groups=8, seed=42)
    files.write.mode("overwrite").parquet(src)

    q = start_incremental_stream(spark, src, state_dir, ckpt)
    # availableNow queries self-terminate; the bound is a hang guard.
    # It must survive the host's page-fault storms (BASELINE.md round-5)
    # and FAIL LOUDLY on timeout: awaitTermination returns False without
    # raising, and the downstream state read then fails confusingly.
    assert q.awaitTermination(1800), "stream did not terminate"
    members = spark.read.parquet(f"{state_dir}/members_delta_*")
    assert members.count() == files.count()
    assert set(members.columns) == {
        "file_id", "cluster_id", "lang", "content", "sig", "src_batch"
    }


def test_corrupt_state_raises_not_relinks(spark):
    """State is what the published manifest lists. ADVICE r1: a read
    error on listed state must propagate and leave the manifest as it
    was. A valid members delta that no manifest lists (a crash before
    the stream's first publish) is not state: the batch links as if
    fresh, and its commit replaces the stray directory."""
    import json

    from cogie_spark.plans.linkage import LinkageConfig, signatures

    files = code_files(spark, n_groups=4, seed=42, with_truth=True)
    stray_rows = files.filter("member_idx = 0").drop("group_id", "member_idx")
    batch = files.filter("member_idx > 0").drop("group_id", "member_idx").cache()

    # listed and corrupt: the read error propagates
    state_dir = tempfile.mkdtemp(prefix="cogie_corrupt_")
    entry = {"batch_id": 0, "members": "members_delta_00000", "bands": "bands_delta_00000"}
    for kind in ("members", "bands"):
        os.makedirs(os.path.join(state_dir, entry[kind]))
        with open(os.path.join(state_dir, entry[kind], "part-00000.parquet"), "w") as f:
            f.write("this is not parquet")
    manifest = {"batches": [entry]}
    with open(os.path.join(state_dir, "_state_manifest.json"), "w") as f:
        json.dump(manifest, f)
    state = TableIO(spark, state_dir)
    with pytest.raises(Exception):
        incremental_link_batch(batch, state, batch_id=1).count()
    assert read_json(spark, state.path("_state_manifest.json")) == manifest

    # valid and unlisted: ignored
    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_stray_"))
    state.write(
        "members_delta_00000",
        stray_rows.select("file_id", F.col("file_id").alias("cluster_id"), "lang", "content")
        .join(signatures(stray_rows, LinkageConfig()).select("file_id", "sig"), "file_id")
        .withColumn("src_batch", F.lit(0)),
    )
    got = {tuple(r) for r in incremental_link_batch(batch, state, batch_id=0).collect()}
    fresh = TableIO(spark, tempfile.mkdtemp(prefix="cogie_fresh_"))
    want = {tuple(r) for r in incremental_link_batch(batch, fresh, batch_id=0).collect()}
    assert got == want and len(got) == batch.count()
    assert read_json(spark, state.path("_state_manifest.json")) == read_json(
        spark, fresh.path("_state_manifest.json")
    )
    assert state.read("members_delta_00000").count() == batch.count()
    batch.unpersist()


def _slices(spark, n_groups, n_batches, seed=42):
    """Deterministic round-robin split of the fixture into micro-batches,
    after the cached numbered table they filter (the caller releases it)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    files = code_files(spark, n_groups=n_groups, seed=seed)
    w = Window.orderBy("file_id")
    numbered = files.withColumn("_rn", FF.row_number().over(w)).cache()
    return numbered, [
        numbered.filter(FF.col("_rn") % n_batches == i).drop("_rn")
        for i in range(n_batches)
    ]


def test_compaction_bounds_manifest_and_preserves_assignments(spark):
    """VERDICT r3 #3: with compact_every=K the manifest never exceeds K
    delta entries (steady-state read = 1 base + <=K deltas, not one dir
    per historical batch), and assignments are identical to an
    uncompacted run of the same batches."""
    import json

    import cogie_spark.streaming.incremental as inc_mod

    numbered, batches = _slices(spark, n_groups=10, n_batches=6)
    compacted = TableIO(spark, tempfile.mkdtemp(prefix="cogie_compact_"))
    plain = TableIO(spark, tempfile.mkdtemp(prefix="cogie_plain_"))
    for i, b in enumerate(batches):
        incremental_link_batch(b, compacted, batch_id=i, compact_every=2)
        manifest = json.loads((compacted.base / "_state_manifest.json").read_text())
        assert len(manifest["batches"]) <= 2, f"batch {i}: manifest grew past K"
        incremental_link_batch(b, plain, batch_id=i, compact_every=0)

    manifest = json.loads((compacted.base / "_state_manifest.json").read_text())
    assert manifest.get("base"), "six batches at K=2 must have compacted"
    got_c = {
        (r["file_id"], r["cluster_id"])
        for r in spark.read.parquet(
            *inc_mod._state_log(compacted).paths("members")
        ).select("file_id", "cluster_id").collect()
    }
    plain_manifest = json.loads((plain.base / "_state_manifest.json").read_text())
    assert len(plain_manifest["batches"]) == 6 and not plain_manifest.get("base")
    got_p = {
        (r["file_id"], r["cluster_id"])
        for r in spark.read.parquet(
            *inc_mod._state_log(plain).paths("members")
        ).select("file_id", "cluster_id").collect()
    }
    assert got_c == got_p, "compaction changed assignments"
    # superseded delta dirs were removed after the publish commit point
    live = {manifest["base"]["members"], manifest["base"]["bands"]} | {
        d for b in manifest["batches"] for d in (b["members"], b["bands"])
    }
    on_disk = {d.name for d in compacted.base.iterdir() if d.is_dir()}
    assert on_disk == live, f"orphaned dirs: {on_disk - live}"
    numbered.unpersist()


def test_retry_is_idempotent(spark):
    """ADVICE r3 #1: foreachBatch is at-least-once — re-delivering an
    already-committed batch_id must not append its delta twice, and must
    return the committed assignments (also for batches already folded
    into the compacted base)."""
    import json

    numbered, batches = _slices(spark, n_groups=8, n_batches=3)
    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_retry_"))
    a0 = incremental_link_batch(batches[0], state, batch_id=0, compact_every=0)
    n0 = a0.count()
    incremental_link_batch(batches[1], state, batch_id=1, compact_every=0)

    committed = {
        (r["file_id"], r["cluster_id"])
        for r in state.read("members_delta_00001").select("file_id", "cluster_id").collect()
    }
    retry = incremental_link_batch(batches[1], state, batch_id=1, compact_every=0)
    assert {(r["file_id"], r["cluster_id"]) for r in retry.collect()} == committed
    manifest = json.loads((state.base / "_state_manifest.json").read_text())
    assert [b["batch_id"] for b in manifest["batches"]] == [0, 1]

    # batch 2 with compact_every=2 folds everything into a base; a retry
    # of batch 0 must now answer from the base via src_batch provenance
    incremental_link_batch(batches[2], state, batch_id=2, compact_every=2)
    manifest = json.loads((state.base / "_state_manifest.json").read_text())
    assert manifest.get("base") and manifest["compacted_through"] == 2
    retry0 = incremental_link_batch(batches[0], state, batch_id=0, compact_every=2)
    assert retry0.count() == n0
    manifest2 = json.loads((state.base / "_state_manifest.json").read_text())
    assert manifest2 == manifest, "retry of a compacted batch mutated the manifest"
    numbered.unpersist()


def test_compaction_crash_before_publish_keeps_state_readable(spark, monkeypatch):
    """Crash between base write and manifest publish: the old manifest
    (and every dir it references) stays the committed truth; the next
    compaction succeeds with a fresh generation."""
    import json

    import pytest

    import cogie_spark.io.tableio as tableio_mod
    import cogie_spark.streaming.incremental as inc_mod

    numbered, batches = _slices(spark, n_groups=8, n_batches=3)
    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_crash_"))
    for i, b in enumerate(batches[:2]):
        incremental_link_batch(b, state, batch_id=i, compact_every=0)
    before = json.loads((state.base / "_state_manifest.json").read_text())
    total = spark.read.parquet(
        *inc_mod._state_log(state).paths("members")
    ).count()

    def exploding(spark_, path, manifest):
        raise RuntimeError("simulated crash at the commit point")

    # the manifest publish helper, as StateLog calls it
    with monkeypatch.context() as m:
        m.setattr(tableio_mod, "publish_json", exploding)
        with pytest.raises(RuntimeError):
            inc_mod._state_log(state).compact(2)

    after = json.loads((state.base / "_state_manifest.json").read_text())
    assert after == before, "crashed compaction mutated the committed manifest"
    assert spark.read.parquet(
        *inc_mod._state_log(state).paths("members")
    ).count() == total

    # the next batch triggers a clean compaction over the same deltas
    incremental_link_batch(batches[2], state, batch_id=2, compact_every=2)
    final = json.loads((state.base / "_state_manifest.json").read_text())
    assert final.get("base") and not final["batches"]
    assert spark.read.parquet(
        str(state.base / final["base"]["members"])
    ).count() >= total
    numbered.unpersist()


def test_stream_wiring_with_compaction(spark):
    """Two availableNow waves through the same checkpoint with
    compact_every=1: state must end fully compacted into a base
    generation and cover every input row exactly once."""
    import json
    import pathlib
    import tempfile

    from cogie_spark.streaming.incremental import start_incremental_stream

    src = tempfile.mkdtemp(prefix="stream_src2_")
    state_dir = tempfile.mkdtemp(prefix="stream_state2_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt2_")
    files = code_files(spark, n_groups=6, seed=42).cache()

    files.filter("member_idx = 0").write.mode("append").parquet(src)
    q = start_incremental_stream(spark, src, state_dir, ckpt, compact_every=1)
    assert q.awaitTermination(1800), "stream did not terminate"
    files.filter("member_idx > 0").write.mode("append").parquet(src)
    q = start_incremental_stream(spark, src, state_dir, ckpt, compact_every=1)
    assert q.awaitTermination(1800), "stream did not terminate"

    manifest = json.loads(
        (pathlib.Path(state_dir) / "_state_manifest.json").read_text()
    )
    assert manifest.get("base") and not manifest["batches"]
    base = spark.read.parquet(f"{state_dir}/{manifest['base']['members']}")
    assert base.count() == files.count()
    assert base.select("file_id").distinct().count() == files.count()
    # cluster count equals group count: wave-2 duplicates joined wave-1
    assert base.select("cluster_id").distinct().count() == 6
    files.unpersist()


def test_uri_base_manifest_publish_and_compaction_cleanup(spark):
    """VERDICT r4 'Next round' #3: the streaming-state control files
    (manifest publish/read, compaction deletes) must work on any
    Hadoop-compatible FS, not just POSIX paths. A ``file://`` URI base
    routes EVERY control-file operation through the Hadoop FileSystem
    code path (TableIO keeps pathlib only for scheme-less bases) while
    still being inspectable from the local side."""
    import json
    import pathlib

    import cogie_spark.streaming.incremental as inc_mod

    local = tempfile.mkdtemp(prefix="cogie_uri_")
    state = TableIO(spark, f"file://{local}")
    assert isinstance(state.base, str) and state.base.startswith("file://")

    numbered, batches = _slices(spark, n_groups=8, n_batches=4)
    for i, b in enumerate(batches):
        incremental_link_batch(b, state, batch_id=i, compact_every=2)

    # manifest was published via the Hadoop route; readable both ways
    manifest = read_json(spark, state.path(inc_mod._MANIFEST))
    assert manifest is not None and manifest.get("base")
    local_manifest = json.loads(
        (pathlib.Path(local) / "_state_manifest.json").read_text()
    )
    assert local_manifest == manifest
    assert len(manifest["batches"]) <= 2

    # compaction cleanup went through fsio.delete: no orphaned dirs
    live = {manifest["base"]["members"], manifest["base"]["bands"]} | {
        d for b in manifest["batches"] for d in (b["members"], b["bands"])
    }
    on_disk = {p.name for p in pathlib.Path(local).iterdir() if p.is_dir()}
    assert on_disk == live, f"orphaned dirs: {on_disk - live}"

    # state reads resolve through the URI paths
    members = spark.read.parquet(*inc_mod._state_log(state).paths("members"))
    total = sum(b.count() for b in batches)
    assert members.count() == total

    # retries still short-circuit (idempotent commit reads the manifest
    # through the same Hadoop route)
    retry = incremental_link_batch(batches[0], state, batch_id=0, compact_every=2)
    assert retry.count() == batches[0].count()
    assert read_json(spark, state.path(inc_mod._MANIFEST)) == manifest
    numbered.unpersist()


def test_checkpoint_manager_uri_base(spark):
    """CheckpointManager commit/latest/metrics on a file:// URI base —
    the snapshot manifest and the metrics/lineage logs must not assume
    POSIX append or os.replace."""
    from cogie_spark.io.tableio import CheckpointManager

    local = tempfile.mkdtemp(prefix="cogie_ckuri_")
    ck = CheckpointManager(spark, f"file://{local}")
    df = spark.range(5).withColumnRenamed("id", "v")
    out = ck.commit("stage1", df, iteration=0, input_fingerprint="abc")
    assert out.count() == 5
    latest = ck.latest("stage1")
    assert latest is not None and latest[1] == 0 and latest[0].count() == 5

    ck.log_metric("stage1", 0, "rows", 5.0)
    m = ck.metrics_df()
    assert m.filter("key = 'rows'").count() == 1
    lin = ck.lineage_df()
    assert lin.filter("stage = 'stage1'").count() == 1



# ------------------------------------------------------ corpus ingestion
def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_GOOD = (
    "an ordinary well formed document with plenty of distinct words that "
    "clears every quality and repetition gate without any trouble at all "
    "because it simply keeps talking about different things in sequence"
)


def test_corpus_stream_cross_batch_dedup_and_idempotent_retry(spark):
    from cogie_spark.plans.corpus import CorpusConfig
    from cogie_spark.streaming.corpus import incremental_clean_batch

    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_corpus_stream_"))
    cfg = CorpusConfig(redact=False)

    # batch 0: two distinct docs + an intra-batch duplicate of doc 1
    b0 = _docs(spark, [(1, _GOOD), (2, _GOOD + " extra tail"), (3, _GOOD)])
    k0 = incremental_clean_batch(b0, state, cfg, batch_id=0)
    assert sorted(r["doc_id"] for r in k0.collect()) == [1, 2]

    # batch 1: a cross-batch duplicate of doc 1 and one new doc
    b1 = _docs(spark, [(10, _GOOD), (11, _GOOD + " genuinely new content")])
    k1 = incremental_clean_batch(b1, state, cfg, batch_id=1)
    assert sorted(r["doc_id"] for r in k1.collect()) == [11]

    # retry of batch 1 (at-least-once): same rows, same schema, and the
    # hash state is NOT double-appended
    before = spark.read.parquet(f"{state.base}/hashes_*").count()
    k1r = incremental_clean_batch(b1, state, cfg, batch_id=1)
    assert sorted(r["doc_id"] for r in k1r.collect()) == [11]
    assert sorted(k1r.columns) == sorted(k1.columns)
    assert spark.read.parquet(f"{state.base}/hashes_*").count() == before


def test_corpus_stream_compaction_preserves_dedup(spark):
    from cogie_spark.plans.corpus import CorpusConfig
    from cogie_spark.streaming.corpus import _MANIFEST, incremental_clean_batch

    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_corpus_cmp_"))
    cfg = CorpusConfig(redact=False)

    for i in range(3):
        b = _docs(spark, [(100 + i, _GOOD + f" variant number {i} of the corpus")])
        incremental_clean_batch(b, state, cfg, batch_id=i, compact_every=2)

    m = read_json(spark, state.path(_MANIFEST))
    assert m["base"] is not None, "hash deltas were not folded"
    assert all("hashes" not in e for e in m["batches"][: m["compacted_through"] + 1])

    # a post-compaction duplicate of a pre-compaction doc is still dropped
    b3 = _docs(spark, [(200, _GOOD + " variant number 0 of the corpus")])
    k3 = incremental_clean_batch(b3, state, cfg, batch_id=3, compact_every=0)
    assert k3.count() == 0

    # retried COMPACTED batch short-circuits to its committed kept rows
    b0 = _docs(spark, [(100, _GOOD + " variant number 0 of the corpus")])
    k0r = incremental_clean_batch(b0, state, cfg, batch_id=0)
    assert [r["doc_id"] for r in k0r.collect()] == [100]


def test_corpus_stream_wiring_availablenow(spark):
    from cogie_spark.plans.corpus import CorpusConfig
    from cogie_spark.streaming.corpus import start_corpus_stream

    base = tempfile.mkdtemp(prefix="cogie_corpus_wire_")
    inp, state_dir, ckpt = (os.path.join(base, d) for d in ("in", "state", "ckpt"))
    os.makedirs(inp)
    _docs(spark, [(1, _GOOD), (2, _GOOD)]).write.parquet(os.path.join(inp, "w0"))

    q = start_corpus_stream(
        spark, inp + "/*", state_dir, ckpt, cfg=CorpusConfig(redact=False)
    )
    assert q.awaitTermination(1800), "stream did not terminate"
    kept = spark.read.parquet(f"{state_dir}/kept_*")
    assert [r["doc_id"] for r in kept.collect()] == [1]


_ESSAY = (
    "compilers translate a source program through parsing and semantic "
    "analysis into an intermediate representation which the optimizer "
    "transforms before code generation finally selects instructions and "
    "allocates registers for the chosen target machine architecture"
)


def test_corpus_stream_near_dup_admission_gate(spark):
    """near_dup=True extends first-seen-wins to NEAR-duplicates: a new
    doc near-matching an admitted doc is dropped cross-batch, a
    within-batch near-dup group keeps its min id, retries stay
    idempotent, and the signature params are pinned in the manifest."""
    import pytest as _pytest

    from cogie_spark.plans.corpus import CorpusConfig
    from cogie_spark.streaming.corpus import incremental_clean_batch

    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_corpus_nd_"))
    cfg = CorpusConfig(redact=False)

    b0 = _docs(spark, [(1, _GOOD), (2, _ESSAY)])
    k0 = incremental_clean_batch(b0, state, cfg, batch_id=0, near_dup=True)
    assert sorted(r["doc_id"] for r in k0.collect()) == [1, 2]

    near_old = _GOOD.replace("ordinary", "unusual")  # NOT exact, near-dup of 1
    new_doc = (
        "databases organize records into pages held by a buffer manager "
        "while the query planner chooses join orders from statistics and "
        "the transaction log preserves durability across every crash"
    )
    near_new = new_doc.replace("records", "tuples")  # within-batch near-dup of 20
    b1 = _docs(spark, [(10, near_old), (20, new_doc), (21, near_new)])
    k1 = incremental_clean_batch(b1, state, cfg, batch_id=1, near_dup=True)
    assert sorted(r["doc_id"] for r in k1.collect()) == [20]

    # retry (at-least-once): committed rows back, band state not
    # double-appended
    bands_before = spark.read.parquet(f"{state.base}/bands_*").count()
    k1r = incremental_clean_batch(b1, state, cfg, batch_id=1, near_dup=True)
    assert sorted(r["doc_id"] for r in k1r.collect()) == [20]
    assert spark.read.parquet(f"{state.base}/bands_*").count() == bands_before
    # band state covers exactly the admitted docs
    band_ids = {
        r["doc_id"] for r in spark.read.parquet(f"{state.base}/bands_*").collect()
    }
    assert band_ids == {1, 2, 20}

    # changing signature params against pinned state must refuse
    with _pytest.raises(ValueError, match="pinned"):
        incremental_clean_batch(
            _docs(spark, [(99, _ESSAY + " tail")]), state, cfg,
            batch_id=2, near_dup=True, jaccard_threshold=0.8,
        )


def test_corpus_stream_near_dup_survives_compaction(spark):
    """Band-state compaction folds the deltas into a base generation and
    the admission gate still drops near-dups of pre-compaction docs."""
    from cogie_spark.plans.corpus import CorpusConfig
    from cogie_spark.streaming.corpus import _MANIFEST, incremental_clean_batch

    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_corpus_ndc_"))
    cfg = CorpusConfig(redact=False)

    texts = {0: _GOOD, 1: _ESSAY}
    for i in (0, 1):
        incremental_clean_batch(
            _docs(spark, [(i, texts[i])]), state, cfg,
            batch_id=i, compact_every=2, near_dup=True,
        )
    man = read_json(spark, state.path(_MANIFEST))
    assert man["base"] and man["base"].get("bands"), "bands folded into base"
    assert not any(e.get("bands") for e in man["batches"])

    # near-dup of the batch-0 doc, whose bands now live ONLY in the base
    k2 = incremental_clean_batch(
        _docs(spark, [(30, _GOOD.replace("ordinary", "unusual")), (31, _ESSAY + " x")]),
        state, cfg, batch_id=2, compact_every=0, near_dup=True,
    )
    assert sorted(r["doc_id"] for r in k2.collect()) == []


def test_corpus_near_dup_failed_batch_releases_caches(spark, monkeypatch):
    """Code-review regression: a micro-batch that fails AFTER the
    near-dup gate persisted its batch-scoped frames must still release
    them (try/finally) — under foreachBatch retries a long stream must
    not accumulate stranded cached partitions from failed attempts."""
    import pytest as _pytest

    from cogie_spark.io.tableio import TableIO as _TIO
    from cogie_spark.plans.corpus import CorpusConfig
    from cogie_spark.streaming.corpus import incremental_clean_batch

    def _cached_count():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_corpus_fail_"))
    cfg = CorpusConfig(redact=False)
    before = _cached_count()

    boom = RuntimeError("simulated transient FS failure")
    real_write = _TIO.write

    def failing_write(self, name, df, *a, **kw):
        if name.startswith("hashes_"):
            raise boom
        return real_write(self, name, df, *a, **kw)

    monkeypatch.setattr(_TIO, "write", failing_write)
    with _pytest.raises(RuntimeError, match="simulated transient"):
        incremental_clean_batch(
            _docs(spark, [(1, _GOOD), (2, _ESSAY)]), state,
            cfg, batch_id=0, near_dup=True,
        )
    monkeypatch.setattr(_TIO, "write", real_write)
    assert _cached_count() == before, "failed batch stranded persisted frames"

    # the retry (same batch_id) succeeds cleanly on the restored writer
    k0 = incremental_clean_batch(
        _docs(spark, [(1, _GOOD), (2, _ESSAY)]), state,
        cfg, batch_id=0, near_dup=True,
    )
    assert sorted(r["doc_id"] for r in k0.collect()) == [1, 2]
    assert _cached_count() == before


# a transitive near-dup chain at the default threshold 0.7 (char-8
# shingle Jaccard): A~B 0.78, B~C 0.78, A!~C 0.60
_CHAIN_A = (
    "river boats carry timber downstream every spring while farmers along the "
    "banks plant barley and oats in fields that flood each autumn so the soil "
    "stays rich and the harvest feeds the villages through long cold winters"
)
_CHAIN_B = _CHAIN_A.replace("timber", "granite").replace("barley", "wheat")
_CHAIN_C = _CHAIN_B.replace("villages", "towns").replace("autumn", "summer")


def test_corpus_stream_near_dup_equals_batch_prune(spark):
    """A one-batch near-dup stream keeps exactly the rows near_dup_prune
    keeps over the same cleaned batch (transitive chain, an exact
    duplicate, singletons), and commits exactly the bands of a 32-wide
    portable signature table: band state banded from such tables keeps
    gating."""
    from cogie_spark.operators.blocking import bands_from_signatures, signature_table
    from cogie_spark.plans.corpus import CorpusConfig, kept_from_docs, near_dup_prune
    from cogie_spark.streaming.corpus import incremental_clean_batch

    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_corpus_ndb_"))
    cfg = CorpusConfig(redact=False)
    batch = _docs(spark, [
        (1, _CHAIN_A), (2, _CHAIN_B), (3, _CHAIN_C),
        (4, _GOOD), (5, _ESSAY), (6, _ESSAY),
    ])

    streamed = incremental_clean_batch(batch, state, cfg, batch_id=0, near_dup=True)
    got = sorted(r["doc_id"] for r in streamed.collect())
    with near_dup_prune(kept_from_docs(batch, cfg), cfg, method="minhash") as out:
        want = sorted(r["doc_id"] for r in out["pruned"].collect())
    # C goes with B although A!~C; 6 is 5's exact duplicate
    assert want == [1, 4, 5]
    assert got == want

    sigs = signature_table(
        kept_from_docs(batch, cfg), id_col="doc_id", content_col="text",
        key_cols=(), num_perm=32, mode="portable",
    )
    bands = bands_from_signatures(sigs, id_col="doc_id", key_cols=(), bands=8, rows_per_band=4)
    want_bands = {
        tuple(r) for r in bands.filter(F.col("doc_id").isin(got))
        .select("doc_id", "band_id", "band_hash").collect()
    }
    committed = {
        tuple(r) for r in spark.read.parquet(f"{state.base}/bands_*")
        .select("doc_id", "band_id", "band_hash").collect()
    }
    assert committed == want_bands


def test_corpus_stream_near_dup_one_signature_pass_per_batch(spark, monkeypatch):
    """Each near-dup batch computes its signatures once — the cross-batch
    gate, the committed bands and the within-batch pairs step all read
    that one table — including a batch that has band state to gate
    against."""
    import cogie_spark.operators.dedup as dedup_mod
    from cogie_spark.plans.corpus import CorpusConfig
    from cogie_spark.streaming.corpus import incremental_clean_batch

    calls: list[int] = []
    orig_sig = dedup_mod.signature_table

    def counting_sig(df, **kw):
        calls.append(1)
        return orig_sig(df, **kw)

    monkeypatch.setattr(dedup_mod, "signature_table", counting_sig)
    state = TableIO(spark, tempfile.mkdtemp(prefix="cogie_corpus_nds_"))
    cfg = CorpusConfig(redact=False)
    per_batch, kept_ids = [], []
    for i, rows in enumerate([
        [(1, _CHAIN_A), (2, _ESSAY)],
        # 10 is dropped against admitted 1; 12 then has no near-dup left
        [(10, _CHAIN_B), (11, _GOOD), (12, _CHAIN_C)],
    ]):
        calls.clear()
        kept = incremental_clean_batch(_docs(spark, rows), state, cfg, batch_id=i, near_dup=True)
        kept_ids.append(sorted(r["doc_id"] for r in kept.collect()))
        per_batch.append(len(calls))
    assert kept_ids == [[1, 2], [11, 12]]
    assert per_batch == [1, 1]
