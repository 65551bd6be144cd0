"""Record-linkage benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload link-batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The run stages its inputs from --seed,
warms the pipeline once, then calls it in a closed loop (each call
starts after the previous one returned) for --seconds, checking every
output. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
--trace 0 prints the end-to-end metrics of the workload; --trace 1 runs
the traced pass over every layer instead and prints per-layer metrics.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("link-batch", "corpus-neardup")
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s",
    "pairs_scored_per_s": "pairs/s", "pairwise_f1": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ launch


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_launch(work: str, event_log: str | None) -> None:
    """Spark settings derived from this host, set before the JVM starts.

    Heap: a quarter of physical memory, 1-8 GiB (the session's 24g
    default is more than many hosts have). Scratch, temp and warehouse
    directories live under ``work``; console progress is off so stdout
    stays parseable; executors import the package from PYTHONPATH."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    heap_gib = max(1, min(8, host_mem_bytes() // 4 // 2**30))
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={local}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        COGIE_DRIVER_MEM=f"{heap_gib}g",
        COGIE_EXTRA_CONF=";".join(conf),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # every JVM, the launcher's included: temp files in the work
        # directory and no hsperfdata file in the system temp directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=ROOT + (os.pathsep + pythonpath if pythonpath else ""),
    )
    os.environ.pop("COGIE_EVENT_LOG", None)
    if event_log:
        os.environ["COGIE_EVENT_LOG"] = event_log
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark():
    from cogie_spark.session import get_spark

    cores = host_cores()
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (it
    exits when its stdin closes, taking its Python workers with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


# --------------------------------------------------------------- workloads


def closed_loop(seconds: float, one_pass, check) -> dict:
    """Call ``one_pass`` until ``seconds`` have passed (at least once);
    ``check(result)`` returns the problems found. A pass that raises or
    fails its check counts as failed; only passing passes are timed."""
    times, results, failed = [], [], 0
    begin = time.perf_counter()
    while not (times or failed) or time.perf_counter() - begin < seconds:
        t0 = time.perf_counter()
        try:
            res = one_pass()
            dt = time.perf_counter() - t0
            problems = check(res)
        except Exception:  # a failed pass is counted, and the loop goes on
            traceback.print_exc()
            problems = ["pass raised"]
        if problems:
            failed += 1
            log(f"pass failed: {problems}")
        else:
            times.append(dt)
            results.append(res)
            log(f"pass {len(times) + failed}: {dt:.3f}s")
    return {"times": times, "results": results, "failed": failed,
            "elapsed": time.perf_counter() - begin}


def run_link_batch(spark, work: str, seed: int, seconds: float, scale: float) -> dict:
    from perfbench import pipelines as P
    from perfbench import workloads as W

    inp = P.LinkInput(work, W.scaled(W.LINK_GROUPS, scale), seed)
    log(f"link-batch: {len(inp.file_ids)} files, warm-up")
    warm = P.link_pass(spark, inp)
    problems, _ = W.check_clusters(warm["rows"], inp.file_ids, inp.labeled)
    if problems:
        raise RuntimeError(f"warm-up pass failed its checks: {problems}")
    ref = (warm["pairs_scored"], len({c for _, c in warm["rows"]}))
    setup_s = time.perf_counter() - T_START

    f1s = []

    def check(res):
        found, f1 = W.check_clusters(res["rows"], inp.file_ids, inp.labeled)
        got = (res["pairs_scored"], len({c for _, c in res["rows"]}))
        if got != ref:
            found.append(f"(pairs scored, clusters) {got} != warm-up {ref}")
        f1s.append(f1)
        return found

    loop = closed_loop(seconds, lambda: P.link_pass(spark, inp), check)
    return dict(
        loop, setup_s=setup_s, rows=len(inp.file_ids), pairs=ref[0],
        f1=min(f1s) if f1s else 0.0,
    )


def run_corpus_neardup(spark, work: str, seed: int, seconds: float, scale: float) -> dict:
    from perfbench import pipelines as P
    from perfbench import workloads as W

    inp = P.CorpusInput(work, W.scaled(W.CORPUS_DOCS, scale, floor=60), seed)
    log(f"corpus-neardup: {len(inp.rows)} docs, {len(inp.expected)} oracle pairs, warm-up")
    warm = P.corpus_pass(spark, inp)
    problems = W.check_near_dups(warm["pairs"], inp.expected)
    if problems:
        raise RuntimeError(f"warm-up pass failed its checks: {problems}")
    n_kept = len(warm["kept"])
    setup_s = time.perf_counter() - T_START
    doc_ids = {r["doc_id"] for r in inp.rows}

    def check(res):
        found = W.check_near_dups(res["pairs"], inp.expected)
        kept = res["kept"]
        if len(kept) != n_kept:
            found.append(f"kept {len(kept)} docs, warm-up kept {n_kept}")
        if len(set(kept)) != len(kept) or not set(kept) <= doc_ids:
            found.append("kept doc_ids are not distinct input ids")
        return found

    loop = closed_loop(seconds, lambda: P.corpus_pass(spark, inp), check)
    return dict(
        loop, setup_s=setup_s, rows=len(inp.rows), pairs=len(inp.expected),
        f1=min((W.pair_f1(r["pairs"], inp.expected) for r in loop["results"]), default=0.0),
    )


def end_to_end(res: dict) -> dict:
    ok = len(res["times"])
    wall = statistics.median(res["times"]) if ok else res["elapsed"]
    values = {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "rows_per_s": res["rows"] * ok / res["elapsed"],
        "pairs_scored_per_s": res["pairs"] / wall if ok else 0.0,
        "pairwise_f1": res["f1"],
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


# -------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use small values)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import cogie_spark  # noqa: F401  (fail before starting a JVM when the package is absent)

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    configure_launch(work, event_log)
    try:
        spark = start_spark()
        log(f"session started on {host_cores()} cores")
        try:
            if args.trace:
                from perfbench import trace as T

                tracer = T.Tracer()
                res = T.traced_run(spark, work, args.seed, args.scale, tracer, log)
                res["layer"]["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
            else:
                runner = {"link-batch": run_link_batch, "corpus-neardup": run_corpus_neardup}
                res = runner[args.workload](spark, work, args.seed, args.seconds, args.scale)
        finally:
            stop_spark(spark)
        if args.trace:
            counters = T.spark_counters(tracer, T.read_jobs(event_log))
            layer = T.finish_layer(res["layer"], counters)
            units = T.metric_units()
            metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
            for what, found in res["problems"].items():
                for p in found:
                    log(f"{what}: {p}")
            attempted = len(res["problems"])
            failed = sum(bool(p) for p in res["problems"].values())
        else:
            metrics = end_to_end(res)
            failed = res["failed"]
            attempted = len(res["times"]) + failed
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
