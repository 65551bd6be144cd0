"""Traced run: spans around every public-layer call, Spark counters
from the event log, and a drift guard for the composed link pipeline.

Spans are recorded here, in the benchmark, around calls into the
program's public functions; each layer's output is materialized at its
boundary so the span holds that layer's work. Jobs are attributed to
the innermost span open at their submit time: the program's own
``cogie:*`` job labels (and its IDF thread) overwrite job descriptions,
so descriptions cannot say which call a job belongs to.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench import pipelines as P
from perfbench import workloads as W

COUNTERS = (
    ("jobs", "count"), ("tasks", "count"), ("driver_gap_s", "s"),
    ("executor_cpu_s", "s"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("gc_s", "s"),
)
# the subset reported per leaf span (the full set per part and in total)
SPAN_COUNTERS = ("jobs", "driver_gap_s", "executor_cpu_s", "shuffle_write_bytes")
PARTS = ("link", "stream", "corpus")
LINK_SPANS = (
    "linkage.prededup", "blocking.signature", "scoring.idf",
    "blocking.candidate_pairs", "linkage.cascade", "scoring.score", "cc",
    "linkage.expand",
)
STREAM_SPANS = ("stream.first_batch", "stream.last_batch")
CORPUS_SPANS = ("corpus.clean", "dedup.near_dup")
LEAF_SPANS = LINK_SPANS + STREAM_SPANS + CORPUS_SPANS
# per-layer wall times: the duration of the span around that layer
SPAN_SECONDS = {
    "blocking.signature_s": "blocking.signature",
    "blocking.candidate_pairs_s": "blocking.candidate_pairs",
    "linkage.prededup_s": "linkage.prededup",
    "linkage.cascade_s": "linkage.cascade",
    "linkage.expand_s": "linkage.expand",
    "scoring.idf_s": "scoring.idf",
    "scoring.score_s": "scoring.score",
    "cc.s": "cc",
    "stream.first_batch_s": "stream.first_batch",
    "stream.last_batch_s": "stream.last_batch",
    "corpus.clean_s": "corpus.clean",
    "dedup.near_dup_s": "dedup.near_dup",
}

LAYER_METRICS = (
    ("blocking.signature_s", "s"), ("blocking.candidate_pairs_s", "s"),
    ("blocking.candidate_pairs", "count"), ("blocking.max_block_size", "count"),
    ("blocking.dropped_blocks", "count"),
    ("linkage.prededup_s", "s"), ("linkage.prededup_keep_ratio", "ratio"),
    ("linkage.cascade_s", "s"), ("linkage.cascade_keep_ratio", "ratio"),
    ("linkage.expand_s", "s"),
    ("scoring.idf_s", "s"), ("scoring.score_s", "s"),
    ("scoring.pairs_scored", "count"), ("scoring.match_ratio", "ratio"),
    ("cc.s", "s"), ("cc.edges", "count"), ("cc.jobs", "count"),
    ("stream.first_batch_s", "s"), ("stream.last_batch_s", "s"),
    ("stream.compact_batch_s", "s"), ("stream.jobs_per_batch", "count"),
    ("tableio.state_bytes", "bytes"), ("tableio.state_dirs", "count"),
    ("corpus.clean_s", "s"), ("corpus.keep_ratio", "ratio"),
    ("dedup.near_dup_s", "s"), ("dedup.pairs", "count"),
    ("trace.traced_wall_s", "s"), ("trace.untraced_wall_s", "s"),
    ("trace.overhead_s", "s"), ("jvm.peak_rss_mb", "MB"),
)


def metric_units() -> dict[str, str]:
    """Every per-layer metric name the traced run prints, with its unit."""
    units = dict(LAYER_METRICS)
    for c, u in COUNTERS:
        units[f"spark.{c}"] = u
        for part in PARTS:
            units[f"spark.{part}.{c}"] = u
    for span in LEAF_SPANS:
        for c in SPAN_COUNTERS:
            units[f"spark.{span}.{c}"] = dict(COUNTERS)[c]
    return units


class Tracer:
    """In-memory spans: name, parent, start and end (epoch ms, the
    clock the event log stamps jobs with)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._open[-1] if self._open else None,
               "start": time.time() * 1000}
        self._open.append(name)
        try:
            yield
        finally:
            self._open.pop()
            rec["end"] = time.time() * 1000
            self.spans.append(rec)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name) / 1000


# ------------------------------------------------------- composed linkage


def composed_link(spark, inp: P.LinkInput, tr: Tracer) -> dict:
    """run_linkage(files, LinkageConfig()) rebuilt from its public
    operators, one span per stage. The drift guard compares its result
    with run_linkage's, so this copy cannot silently diverge."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from cogie_spark.functions.text import normalize_text
    from cogie_spark.operators.blocking import (
        bands_from_signatures,
        candidate_pairs,
        estimate_jaccard,
        signature_table,
    )
    from cogie_spark.operators.cc import connected_components
    from cogie_spark.operators.scoring import corpus_idf, match_edges, score_features
    from cogie_spark.plans.linkage import LinkageConfig

    cfg = LinkageConfig()
    ident = cfg.id_col
    persisted, checkpoints = [], []

    def keep(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(df)
        return df

    out: dict = {}
    try:
        all_files = keep(inp.files(spark))
        with tr.span("linkage.prededup"):
            keyed = all_files.withColumn("_sha", F.col(cfg.sha_col))
            data_cols = [c for c in keyed.columns if c != "_sha"]
            reps_rows = keyed.groupBy("_sha").agg(
                F.expr(f"min_by(struct({', '.join(data_cols)}), {ident})").alias("_r"),
                F.min(ident).alias("_rep_id"),
            )
            file2rep = keep(
                keyed.select(ident, "_sha")
                .join(reps_rows.select("_sha", "_rep_id"), "_sha")
                .select(ident, F.col("_rep_id"))
            )
            reps = keep(reps_rows.select("_r.*"))
            n_files, n_reps = file2rep.count(), reps.count()
        with tr.span("blocking.signature"):
            sigs = keep(signature_table(
                reps, id_col=ident, content_col=cfg.content_col, key_cols=cfg.key_cols,
                num_perm=cfg.num_perm, shingle_k=cfg.shingle_k, mode=cfg.signature_mode,
            ))
            sigs.count()
        with tr.span("scoring.idf"):
            # run_linkage overlaps this with the blocking precheck in a
            # driver thread; here it runs alone so its span is its own
            idf = spark.sparkContext.broadcast(
                corpus_idf(reps, content_col=cfg.content_col, max_terms=cfg.idf_max_terms)
            )
        with tr.span("blocking.candidate_pairs"):
            stats: dict = {}
            blocks = bands_from_signatures(
                sigs, id_col=ident, key_cols=cfg.key_cols, bands=cfg.bands,
                rows_per_band=cfg.num_perm // cfg.bands,
            )
            pairs, _dropped = candidate_pairs(
                blocks, id_col=ident, key_cols=cfg.key_cols,
                max_block_size=cfg.max_block_size, release_into=persisted,
                stats_into=stats,
            )
            pairs = keep(pairs)
            n_candidates = pairs.count()
        with tr.span("linkage.cascade"):
            cascade_sig = (
                F.expr("transform(sig, x -> cast((x & 255) - 128 as tinyint))")
                if cfg.cascade_sig_bits == 8 else F.col("sig")
            ).alias("sig")
            side = keep(sigs.select(F.col(ident).alias("_sid"), cascade_sig).join(
                reps.select(
                    F.col(ident).alias("_sid"),
                    F.substring(normalize_text(cfg.content_col), 1, cfg.feature_chars).alias("_feat"),
                ),
                "_sid",
            ))
            pairs = keep(
                pairs.join(side.select(F.col("_sid").alias("left_id"), F.col("sig").alias("_lsig"),
                                       F.col("_feat").alias("_lf")), "left_id")
                .join(side.select(F.col("_sid").alias("right_id"), F.col("sig").alias("_rsig"),
                                  F.col("_feat").alias("_rf")), "right_id")
                .withColumn("est_jaccard", estimate_jaccard(F.col("_lsig"), F.col("_rsig"), cfg.num_perm))
                .filter(F.col("est_jaccard") >= cfg.prefilter_est_jaccard)
                .drop("_lsig", "_rsig")
            )
            n_cascade = pairs.count()
        with tr.span("scoring.score"):
            scored = keep(score_features(
                pairs, jw_chars=cfg.jw_chars, ts_chars=cfg.ts_chars, weights=cfg.weights,
                idf=idf, partitions=0,
            ))
            n_scored = scored.count()
            edges = keep(match_edges(scored, threshold=cfg.threshold))
            n_edges = edges.count()
        with tr.span("cc"):
            comp = keep(connected_components(
                edges, max_iter=cfg.cc_max_iter, check_every=cfg.cc_check_every,
                local_max_edges=cfg.cc_local_max_edges, release_into=checkpoints,
            ))
            comp.count()
        with tr.span("linkage.expand"):
            comp_r = comp.select(F.col(ident).alias("_rep_id"), F.col("cluster_id"))
            clusters = file2rep.join(comp_r, "_rep_id", "left").select(
                F.col(ident).alias("file_id"),
                F.coalesce("cluster_id", F.col("_rep_id")).alias("cluster_id"),
            )
            out["rows"] = [(r.file_id, r.cluster_id) for r in clusters.collect()]
        idf.destroy()
    finally:
        for df in persisted + checkpoints:
            df.unpersist()
    P.assert_clean(spark)
    out.update(
        pairs_scored=n_scored,
        layer={
            "blocking.candidate_pairs": n_candidates,
            "blocking.max_block_size": stats["max_block_size"],
            "blocking.dropped_blocks": stats["n_dropped_blocks"],
            "linkage.prededup_keep_ratio": n_reps / n_files,
            "linkage.cascade_keep_ratio": n_cascade / n_candidates,
            "scoring.pairs_scored": n_scored,
            "scoring.match_ratio": n_edges / n_scored,
            "cc.edges": n_edges,
        },
    )
    return out


# ---------------------------------------------------------------- stream


def stream_batches(spark, inp: P.LinkInput):
    """The stream input split by hash of file_id into micro-batches."""
    from pyspark.sql import functions as F

    files = inp.files(spark)
    k = W.STREAM_BATCHES
    return [files.filter(F.pmod(F.xxhash64("file_id"), F.lit(k)) == b) for b in range(k)]


def state_generation(state_dir: str) -> int:
    with open(os.path.join(state_dir, "_state_manifest.json")) as f:
        return int(json.load(f).get("generation", 0))


def state_footprint(state_dir: str) -> tuple[int, int]:
    """(bytes, directories) under a TableIO state directory."""
    size = dirs = 0
    for root, subdirs, files in os.walk(state_dir):
        dirs += len(subdirs)
        size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return size, dirs


def traced_stream(spark, inp: P.LinkInput, state_dir: str, tr: Tracer) -> dict:
    """Feed every micro-batch, in order, through incremental_link_batch
    into a fresh state directory, one span per batch; each batch starts
    after the previous one returned its committed assignments."""
    from cogie_spark.io.tableio import TableIO
    from cogie_spark.streaming.incremental import incremental_link_batch

    state = TableIO(spark, state_dir)
    last = W.STREAM_BATCHES - 1
    names = {0: "stream.first_batch", last: "stream.last_batch"}
    rows, compact_batches, generation = [], [], 0
    for b, batch in enumerate(stream_batches(spark, inp)):
        with tr.span(names.get(b, f"stream.batch{b}")):
            got = incremental_link_batch(
                batch, state, batch_id=b, compact_every=W.STREAM_COMPACT_EVERY
            ).collect()
        rows.extend((r.file_id, r.cluster_id) for r in got)
        # the manifest's generation moves on the batch that compacted
        if state_generation(state_dir) != generation:
            generation = state_generation(state_dir)
            compact_batches.append(b)
    footprint = state_footprint(state_dir)
    shutil.rmtree(state_dir)
    P.assert_clean(spark, state_dir)
    return {"rows": rows, "footprint": footprint, "compact_batches": compact_batches}


# ------------------------------------------------------------- traced run


def traced_run(spark, work: str, seed: int, scale: float, tr: Tracer, log) -> dict:
    """Every layer once, each pipeline warmed first: the composed link
    pipeline (after a small run_linkage warm-up; then one untraced
    run_linkage pass, the drift guard's reference), a stream of
    micro-batches into fresh state, and one corpus pass.

    Returns the layer metrics known before the event log is read and
    the problems found per attempted operation."""
    layer: dict = {}
    problems: dict[str, list[str]] = {}

    log("link warm-up")
    P.link_pass(spark, P.LinkInput(work, W.WARMUP_GROUPS, seed))
    link = P.LinkInput(work, W.scaled(W.LINK_GROUPS, scale), seed)

    log("link traced")
    with tr.span("link"):
        traced = composed_link(spark, link, tr)
    log("link untraced")
    t0 = time.perf_counter()
    ref = P.link_pass(spark, link)
    untraced_s = time.perf_counter() - t0
    problems["link untraced"] = W.check_clusters(ref["rows"], link.file_ids, link.labeled)[0]
    found = W.check_clusters(traced["rows"], link.file_ids, link.labeled)[0]
    if traced["pairs_scored"] != ref["pairs_scored"]:
        found.append(f"drift guard: composed trace scored {traced['pairs_scored']} pairs, "
                     f"run_linkage {ref['pairs_scored']}")
    if W.cluster_digest(traced["rows"]) != W.cluster_digest(ref["rows"]):
        found.append("drift guard: composed trace clusters differ from run_linkage's")
    problems["link traced"] = found
    layer.update(traced["layer"])
    layer["trace.traced_wall_s"] = tr.seconds("link")
    layer["trace.untraced_wall_s"] = untraced_s
    layer["trace.overhead_s"] = tr.seconds("link") - untraced_s

    log("stream")
    stream_in = P.LinkInput(work, W.scaled(W.STREAM_GROUPS, scale),
                            W.stream_seed(seed))
    with tr.span("stream"):
        st = traced_stream(spark, stream_in, os.path.join(work, "stream_state"), tr)
    found = W.check_clusters(st["rows"], stream_in.file_ids, stream_in.labeled,
                             min_ids=False)[0]
    if not st["compact_batches"]:
        found.append("compaction never fired")
    problems["stream"] = found
    batch_s = [(s["end"] - s["start"]) / 1000 for s in tr.spans if s["parent"] == "stream"]
    layer["stream.compact_batch_s"] = (
        batch_s[st["compact_batches"][0]] if st["compact_batches"] else 0.0
    )
    layer["tableio.state_bytes"], layer["tableio.state_dirs"] = st["footprint"]

    log("corpus warm-up")
    corpus = P.CorpusInput(work, W.scaled(W.CORPUS_DOCS, scale, floor=60), seed)
    P.corpus_pass(spark, corpus)
    log("corpus traced")
    with tr.span("corpus"):
        with tr.span("corpus.clean"):
            kept = P.corpus_clean(spark, corpus)
        with tr.span("dedup.near_dup"):
            pairs = P.corpus_near_dup(spark, corpus)
    problems["corpus"] = W.check_near_dups(pairs, corpus.expected)
    layer["corpus.keep_ratio"] = len(kept) / len(corpus.rows)
    layer["dedup.pairs"] = len(pairs)

    for metric, span in SPAN_SECONDS.items():
        layer[metric] = tr.seconds(span)
    return {"layer": layer, "problems": problems}


def finish_layer(layer: dict, counters: dict) -> dict:
    """Layer metrics that come from the event log's job counts."""
    return dict(
        layer, **counters,
        **{"cc.jobs": counters["spark.cc.jobs"],
           "stream.jobs_per_batch": counters["spark.stream.jobs"] / W.STREAM_BATCHES},
    )


# -------------------------------------------------------------- event log


def _event_log_module():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "scripts"))
    import eventlog_metrics

    return eventlog_metrics


def read_jobs(log_dir: str) -> list[dict]:
    """Jobs of the application's event log: submit/end time (epoch ms)
    and the task counters of their stages, summed."""
    em = _event_log_module()
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    wanted = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"', '"SparkListenerTaskEnd"')
    for part in em._event_files(em.newest_log(log_dir)):
        with em._open_text(part) as f:
            for line in f:
                if not any(w in line[:60] for w in wanted):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = dict.fromkeys(("tasks", "cpu_ns", "shuffle_write_bytes",
                                                        "spill_bytes", "gc_ms"), 0)
                    jobs[ev["Job ID"]].update(submit=ev["Submission Time"], end=None)
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                else:
                    m = ev.get("Task Metrics")
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    if not m or job is None:
                        continue
                    job["tasks"] += 1
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    job["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
    return list(jobs.values())


def _covered_ms(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def spark_counters(tr: Tracer, jobs: list[dict]) -> dict:
    """Counters per leaf span, per part and in total. A job belongs to
    the innermost span open at its submit time; jobs outside every span
    (warm-ups, the untraced reference) are not counted."""
    by_name = {s["name"]: s for s in tr.spans}

    def owner(job):
        inside = [s for s in tr.spans if s["start"] <= job["submit"] <= s["end"]]
        return max(inside, key=lambda s: s["start"])["name"] if inside else None

    def chain(name):
        while name:
            yield name
            name = by_name[name]["parent"]

    members = defaultdict(list)
    for job in jobs:
        for name in chain(owner(job)):
            members[name].append(job)

    def counters(spans: list[dict], js: list[dict]) -> dict:
        busy = sum(
            _covered_ms([(j["submit"], j["end"] or s["end"]) for j in js], s["start"], s["end"])
            for s in spans
        )
        return {
            "jobs": len(js),
            "tasks": sum(j["tasks"] for j in js),
            "driver_gap_s": (sum(s["end"] - s["start"] for s in spans) - busy) / 1000,
            "executor_cpu_s": sum(j["cpu_ns"] for j in js) / 1e9,
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in js),
            "spill_bytes": sum(j["spill_bytes"] for j in js),
            "gc_s": sum(j["gc_ms"] for j in js) / 1000,
        }

    out = {}
    total = defaultdict(float)
    for part in PARTS:
        for c, v in counters([by_name[part]], members[part]).items():
            out[f"spark.{part}.{c}"] = v
            total[c] += v
    for c, v in total.items():
        out[f"spark.{c}"] = v
    for span in LEAF_SPANS:
        spans = [s for s in tr.spans if s["name"] == span]
        got = counters(spans, members[span])
        for c in SPAN_COUNTERS:
            out[f"spark.{span}.{c}"] = got[c]
    return out
