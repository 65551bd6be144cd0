"""Parquet + manifest snapshot protocol — Iceberg commit semantics
without requiring an Iceberg runtime in the sandbox (SURVEY.md §7.3).

Every ``commit`` writes the DataFrame to a fresh snapshot directory and
then atomically publishes a manifest JSON (write-temp + rename). Readers
only ever see fully-written snapshots; a job killed mid-write leaves no
visible partial state. ``latest`` returns the newest committed snapshot,
which is exactly the resume contract of the reference trainer's
checkpoint/skip-to-global-step logic
(/root/reference/cogie/core/trainer.py:195-213,286-302).

A real Iceberg catalog slots in behind the same interface (commit ->
table snapshot, latest -> current snapshot) — the pipeline code never
touches paths directly.

Also maintains the north rule's per-stage observability tables:
- ``metrics``  : append-only (stage, iteration, key, value, ts)
- ``lineage``  : per-commit (stage, iteration, rows, input_fingerprint)
- ``lineage_partitions`` : per-PARTITION lineage of every committed
  snapshot (stage, iteration, file, rows, fingerprint) — one row per
  parquet file, with an order-insensitive ``bit_xor(xxhash64(*cols))``
  content fingerprint. The per-file xor composes: xor-ing all file
  fingerprints of a snapshot yields a whole-table fingerprint that is
  invariant to how rows were assigned to partitions, so two commits of
  the same logical table compare equal even across different
  partitionings. Per-file ROW COUNTS ride the parquet rowgroup fast
  path (count(1) reads no column data); content FINGERPRINTS add one
  read of the freshly-written snapshot (page-cache-hot right after the
  write) — measured +57% per commit at 2M rows x 3 cols on a
  degraded-band host (3.86 vs 2.46 s), less in a healthy band where the
  write itself dominates.
"""

from __future__ import annotations

import functools
import json
import time
from pathlib import Path
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cogie_spark.io import fsio


def read_json(spark: SparkSession, path: str) -> dict | None:
    """A JSON control file (state or snapshot manifest), or None if absent."""
    txt = fsio.read_text(spark, path)
    return None if txt is None else json.loads(txt)


def publish_json(spark: SparkSession, path: str, obj: dict) -> None:
    """Publish a JSON control file — the commit point of every manifest
    (streaming state, corpus stream, CheckpointManager snapshots).
    write-temp + rename through the Hadoop FS API: atomic replace on
    local/HDFS, single-writer last-writer-wins on S3-like stores (the
    per-FS contract is documented on fsio.write_text_atomic)."""
    fsio.write_text_atomic(spark, path, json.dumps(obj, indent=1))


def union_parts(parts: list[DataFrame]) -> DataFrame:
    """The plain :class:`StateLog` fold: every part's rows, by column name."""
    return functools.reduce(DataFrame.unionByName, parts)


class StateLog:
    """Committed state of a micro-batch stream: parquet directories under
    one TableIO, listed by one JSON manifest.

    Each manifest entry is one batch: its ``batch_id`` and one directory
    name per *kind* (``members``, ``bands``, ``kept``, ``hashes``), named
    ``{kind}_delta_{batch:05d}``. Directory names are always read from the
    manifest, never rebuilt or listed.

    The manifest is the single commit point: directories are written
    first and become state only when the manifest that lists them is
    published (``publish_json``). A crash in between leaves the previous
    manifest, and every directory it lists, intact.

    Kinds named in ``folds`` are folded by :meth:`compact` into one
    ``{kind}_base_{gen:05d}`` directory. Each fold gets the kind's frames,
    base first, and returns the new base. Other kinds stay in the entries
    as a log.
    """

    def __init__(
        self,
        io: TableIO,
        name: str,
        folds: dict[str, Callable[[list[DataFrame]], DataFrame]],
    ):
        self.io = io
        self.folds = folds
        self._path = io.path(name)
        self.manifest = read_json(io.spark, self._path) or {"batches": []}

    @property
    def entries(self) -> list[dict]:
        return self.manifest["batches"]

    @property
    def base(self) -> dict:
        return self.manifest.get("base") or {}

    @staticmethod
    def delta_name(kind: str, batch_id: int) -> str:
        return f"{kind}_delta_{batch_id:05d}"

    def entry(self, batch_id: int) -> dict | None:
        """The committed entry of ``batch_id``: the idempotent-retry
        lookup (foreachBatch is at-least-once)."""
        return next((e for e in self.entries if e["batch_id"] == batch_id), None)

    def paths(self, kind: str) -> list[str]:
        """The kind's base directory, if any, then every delta of it."""
        names = [self.base[kind]] if self.base.get(kind) else []
        names += [e[kind] for e in self.entries if e.get(kind)]
        return [self.io.path(n) for n in names]

    def committed(self, batch_id: int, kind: str) -> DataFrame | None:
        """The rows ``batch_id`` committed under ``kind``, or None if the
        batch is not committed: its delta while the manifest lists it,
        else the base's rows carrying ``src_batch == batch_id``."""
        e = self.entry(batch_id)
        if e is not None and e.get(kind):
            return self.io.read(e[kind])
        if self.base.get(kind) and batch_id <= int(self.manifest.get("compacted_through", -1)):
            return self.io.read(self.base[kind]).filter(F.col("src_batch") == batch_id)
        return None

    def publish(self) -> None:
        """Publish the manifest: the commit point."""
        publish_json(self.io.spark, self._path, self.manifest)

    def commit(self, batch_id: int, dirs: dict[str, str]) -> None:
        """Append ``batch_id``'s entry (``{kind: directory}``, already
        written) and publish the manifest."""
        self.entries.append({"batch_id": batch_id, **dirs})
        self.publish()

    def compact(self, compact_every: int) -> None:
        """Fold the folded kinds into a new base generation once
        ``compact_every`` entries still hold one (0 = never).

        The new bases are written before the manifest is published, so
        a crash leaves the previous manifest committed and the next
        compaction overwrites the half-written generation. Superseded
        directories are deleted, best-effort, only after the publish.
        """
        holding = [e for e in self.entries if any(e.get(k) for k in self.folds)]
        if not compact_every or len(holding) < compact_every:
            return
        gen = self.manifest.get("generation", 0) + 1
        new_base, superseded = {}, []
        for kind, fold in self.folds.items():
            names = [self.base[kind]] if self.base.get(kind) else []
            names += [e[kind] for e in holding if e.get(kind)]
            if not names:
                continue
            new_base[kind] = f"{kind}_base_{gen:05d}"
            self.io.write(new_base[kind], fold([self.io.read(n) for n in names]))
            superseded += names
        entries = []
        for e in self.entries:
            rest = {k: v for k, v in e.items() if k not in self.folds}
            if rest.keys() - {"batch_id"}:
                entries.append(rest)
        self.manifest = {
            **self.manifest,
            "generation": gen,
            "base": new_base,
            "batches": entries,
            "compacted_through": max(
                [int(self.manifest.get("compacted_through", -1))]
                + [e["batch_id"] for e in holding]
            ),
        }
        self.publish()
        for n in superseded:
            fsio.delete(self.io.spark, self.io.path(n))


def _init_base(spark: SparkSession, base: str):
    """Scheme-aware base handling: a URI base (``hdfs://``, ``s3a://``)
    stays a STRING (pathlib corrupts the scheme's double slash) and is
    created through the Hadoop FS API; a plain local path keeps the
    pathlib ergonomics tests and local tools rely on."""
    base_str = str(base).rstrip("/")
    if "://" in base_str:
        # includes file:// — running the local FS through the Hadoop
        # route lets tests exercise the exact object-store code path
        fsio.mkdirs(spark, base_str)
        return base_str, base_str
    p = Path(base_str)
    p.mkdir(parents=True, exist_ok=True)
    return p, str(p)


class TableIO:
    """Thin parquet table reader/writer rooted at a base directory or
    Hadoop-compatible URI (``hdfs://``, ``s3a://``, ...)."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base, self._base_str = _init_base(spark, base)

    def path(self, *names: str) -> str:
        """URI-safe absolute path of a child entry."""
        return fsio.join(self._base_str, *names)

    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> str:
        path = self.path(name)
        df.write.mode(mode).parquet(path)
        return path

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))


class CheckpointManager:
    """Committed, resumable snapshots per pipeline stage."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base, self._base_str = _init_base(spark, base)

    def path(self, *names: str) -> str:
        return fsio.join(self._base_str, *names)

    # ------------------------------------------------------------- manifest
    def _manifest_path(self, stage: str) -> str:
        return self.path(stage, "_manifest.json")

    def _read_manifest(self, stage: str) -> dict:
        return read_json(self.spark, self._manifest_path(stage)) or {"commits": []}

    def _publish(self, stage: str, manifest: dict) -> None:
        publish_json(self.spark, self._manifest_path(stage), manifest)

    # --------------------------------------------------------------- commits
    def commit(
        self,
        stage: str,
        df: DataFrame,
        iteration: int = 0,
        input_fingerprint: str | None = None,
    ) -> DataFrame:
        """Write a snapshot, publish it, return the re-read DataFrame.

        Returning the re-read frame truncates lineage (the parquet scan
        replaces the upstream plan) — required for iterative algorithms.
        """
        snap_dir = self.path(stage, f"snap_{iteration:05d}")
        df.write.mode("overwrite").parquet(snap_dir)
        part_stats = self._partition_stats(self.spark.read.parquet(snap_dir))
        rows = sum(r["rows"] for r in part_stats)
        manifest = self._read_manifest(stage)
        manifest["commits"].append(
            {
                "iteration": iteration,
                "path": str(snap_dir),
                "rows": rows,
                "input_fingerprint": input_fingerprint,
                "ts": time.time(),
            }
        )
        self._publish(stage, manifest)
        self._append_lineage(stage, iteration, rows, input_fingerprint)
        self._append_partition_lineage(stage, iteration, part_stats)
        return self.spark.read.parquet(str(snap_dir))

    def _partition_stats(self, snap: DataFrame) -> list:
        """Per-file (rows, fingerprint) of a written snapshot in ONE
        distributed agg — one output row per parquet file, so the
        driver-side list is bounded by the snapshot's partition count
        (which the engine controls), never its row count. The
        fingerprint is ``bit_xor(xxhash64(*cols))`` — order-insensitive
        within a file, and xor-composable across files into a
        partitioning-invariant whole-table fingerprint. Map-typed
        columns are excluded (Spark cannot hash maps); a snapshot with
        no hashable column gets a NULL fingerprint, and the agg degrades
        to the rowgroup-metadata count path."""
        hashable = [c for c, t in snap.dtypes if not t.startswith("map<")]
        if hashable:
            fp = F.bit_xor(F.xxhash64(*[F.col(c) for c in hashable]))
        else:
            fp = F.first(F.lit(None).cast("long"))
        return (
            snap.groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("rows"), fp.alias("fingerprint"))
            .collect()
        )

    def expire(self, stage: str, keep_last: int = 1) -> list[int]:
        """Snapshot retention: drop all but the newest ``keep_last``
        commits of a stage — prune the manifest FIRST (publish is the
        commit point; a crash after it leaves unreferenced dirs that a
        re-run of expire removes), then delete the superseded snapshot
        dirs through the Hadoop FS API. Iterative stages (CC commits one
        snapshot per round) otherwise accumulate O(iterations) copies of
        the edge set — at 10^12-file scale that is the storage bill.
        The lineage/metrics logs are history, not state: never pruned.
        Returns the expired iteration numbers. Snapshots still
        referenced by the manifest are never touched, so ``latest`` and
        ``verify_commit`` keep working on everything retained.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        manifest = self._read_manifest(stage)
        commits = manifest["commits"]
        if len(commits) <= keep_last:
            return []
        drop, keep = commits[:-keep_last], commits[-keep_last:]
        self._publish(stage, {**manifest, "commits": keep})
        kept_paths = {c["path"] for c in keep}
        expired = []
        for c in drop:
            # a re-commit at the same iteration reuses the dir; never
            # delete a path a retained commit still references
            if c["path"] not in kept_paths:
                fsio.delete(self.spark, c["path"], recursive=True)
            expired.append(int(c["iteration"]))
        return expired

    def latest(self, stage: str) -> tuple[DataFrame, int] | None:
        manifest = self._read_manifest(stage)
        if not manifest["commits"]:
            return None
        last = manifest["commits"][-1]
        return self.spark.read.parquet(last["path"]), int(last["iteration"])

    # --------------------------------------------------------------- metrics
    def log_metric(self, stage: str, iteration: int, key: str, value: float) -> None:
        """Append to the metrics table (north rule: per-stage metrics).

        Stand-in for the reference's TensorBoard scalar stream
        (/root/reference/cogie/core/trainer.py:171-173).
        """
        self._append_jsonl(
            "metrics.jsonl",
            {"stage": stage, "iteration": iteration, "key": key, "value": value, "ts": time.time()},
        )

    def _append_lineage(self, stage, iteration, rows, input_fingerprint) -> None:
        self._append_jsonl(
            "lineage.jsonl",
            {
                "stage": stage,
                "iteration": iteration,
                "rows": rows,
                "input_fingerprint": input_fingerprint,
                "ts": time.time(),
            },
        )

    def _append_partition_lineage(self, stage, iteration, part_stats) -> None:
        """North rule: per-PARTITION lineage. One parquet file appended
        per commit (a single driver-built frame of one row per snapshot
        file — no jsonl fan-out of O(files) tiny objects on object
        stores). Only the basename of each snapshot file is stored so
        the table stays valid if the checkpoint base is relocated."""
        ts = time.time()
        rows = [
            (
                str(stage),
                int(iteration),
                str(r["file"]).rsplit("/", 1)[-1],
                int(r["rows"]),
                None if r["fingerprint"] is None else int(r["fingerprint"]),
                ts,
            )
            for r in part_stats
        ]
        sdf = self.spark.createDataFrame(
            rows,
            "stage string, iteration int, file string, rows long, "
            "fingerprint long, ts double",
        )
        sdf.coalesce(1).write.mode("append").parquet(self.path("lineage_partitions"))

    def partition_lineage_df(self) -> DataFrame:
        return self.spark.read.parquet(self.path("lineage_partitions"))

    def verify_commit(self, stage: str, iteration: int | None = None) -> dict:
        """Resume-time content verification against the per-partition
        lineage table (the consumer the table was built for): re-read a
        committed snapshot, recompute each file's (rows, fingerprint)
        with the same ONE-agg plan ``commit`` used, and compare
        file-by-file against what was recorded at commit time.

        Returns ``{"ok": bool, "files": n, "mismatched": [basename, ...],
        "missing": [...], "unexpected": [...]}``. A bit-rotted, truncated,
        or partially-overwritten snapshot surfaces as a named file list
        instead of a silently-wrong resume. Cost is one page-cache-class
        scan of the snapshot — the same price ``commit`` paid — so it is
        an opt-in resume guard, not an always-on tax. A snapshot with no
        hashable column records NULL fingerprints, so only its row counts
        are compared.
        """
        manifest = self._read_manifest(stage)
        if not manifest["commits"]:
            raise ValueError(f"no commits for stage {stage!r}")
        commits = manifest["commits"]
        if iteration is None:
            last = commits[-1]
        else:
            matches = [c for c in commits if int(c["iteration"]) == iteration]
            if not matches:
                raise ValueError(f"stage {stage!r} has no commit at iteration {iteration}")
            last = matches[-1]
        it = int(last["iteration"])
        live = {
            str(r["file"]).rsplit("/", 1)[-1]: (int(r["rows"]), r["fingerprint"])
            for r in self._partition_stats(self.spark.read.parquet(last["path"]))
        }
        recorded = {
            r["file"]: (int(r["rows"]), r["fingerprint"])
            for r in self.partition_lineage_df()
            .where((F.col("stage") == stage) & (F.col("iteration") == it))
            .collect()
        }
        mismatched = sorted(
            f
            for f in live.keys() & recorded.keys()
            if live[f][0] != recorded[f][0]
            or (
                recorded[f][1] is not None
                and live[f][1] is not None
                and int(live[f][1]) != int(recorded[f][1])
            )
        )
        missing = sorted(recorded.keys() - live.keys())
        unexpected = sorted(live.keys() - recorded.keys())
        return {
            "ok": not (mismatched or missing or unexpected),
            "stage": stage,
            "iteration": it,
            "files": len(recorded),
            "mismatched": mismatched,
            "missing": missing,
            "unexpected": unexpected,
        }

    def _append_jsonl(self, fname: str, rec: dict) -> None:
        # metrics/lineage are append-only logs. POSIX append is the fast
        # local path; object stores have no append, so URI bases write
        # one small immutable object per record under a log dir — both
        # shapes read back with the same spark.read.json glob.
        if isinstance(self.base, Path):
            with open(self.base / fname, "a") as f:
                f.write(json.dumps(rec) + "\n")
        else:
            rec_name = f"{fname}.d/rec_{time.time_ns():020d}.json"
            fsio.write_text_atomic(self.spark, self.path(rec_name), json.dumps(rec))

    def _log_df(self, fname: str) -> DataFrame:
        if isinstance(self.base, Path):
            return self.spark.read.json(self.path(fname))
        return self.spark.read.json(self.path(f"{fname}.d"))

    def metrics_df(self) -> DataFrame:
        return self._log_df("metrics.jsonl")

    def lineage_df(self) -> DataFrame:
        return self._log_df("lineage.jsonl")


class _Releasable:
    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.release()


class RunScope(_Releasable, list):
    """The owner of every cache one pipeline run makes: persisted frames
    and broadcasts in the list itself (what operators' ``release_into``
    appends to), localCheckpoint handles (``cc.CheckpointHandle``) in
    ``checkpoints``. ``release()`` (or leaving the ``with`` block) drops
    both, so it comes only after every output derived from the run has
    been consumed or committed: a released checkpoint cannot recompute.
    """

    def __init__(self, checkpoint: CheckpointManager | None = None):
        super().__init__()
        self.checkpoint = checkpoint
        self.checkpoints: list = []

    def persist(self, df: DataFrame) -> DataFrame:
        self.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return df

    def keep(self, stage: str, df: DataFrame, cache: bool = True) -> DataFrame:
        """A stage output later stages re-read: committed through the
        CheckpointManager when the run has one, else persisted (or, with
        ``cache=False``, returned as is)."""
        if self.checkpoint is not None:
            return self.checkpoint.commit(stage, df)
        return self.persist(df) if cache else df

    def log_metric(self, stage: str, key: str, value: Callable[[], float]) -> None:
        """Log ``value()`` to the CheckpointManager's metrics; without one
        ``value`` is never called, so it may run a job."""
        if self.checkpoint is not None:
            self.checkpoint.log_metric(stage, 0, key, float(value()))

    def release(self) -> None:
        for handle in self + self.checkpoints:
            handle.unpersist()
        self.clear()
        self.checkpoints.clear()


class RunResult(_Releasable, dict):
    """A run's named outputs, read as a dict, plus ``release()`` / ``with``
    for the scope that owns their caches. ``_persisted`` and
    ``_checkpoints`` are the scope's two lists, for hand release."""

    def __init__(self, scope: RunScope, **outputs):
        super().__init__(outputs, _persisted=scope, _checkpoints=scope.checkpoints)
        self.release = scope.release
