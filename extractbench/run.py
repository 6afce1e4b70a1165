#!/usr/bin/env python3
"""Extraction benchmark.

    python3 extractbench/run.py --workload text_flat --seed 1 --seconds 12 --trace 0

Runs one workload of ``BENCHMARK.json`` on ``local[<cpus>]`` from this
single driver process, as a closed loop: one job at a time, the next
repetition starting when the previous one finished. The last line of
stdout is one JSON object ``{correct, attempted, failed, metrics}``.

``--trace 0`` times repetitions for ``--seconds`` and reports the
end-to-end metrics. ``--trace 1`` is the separate layer-by-layer run:
it times the workload's cumulative plans, reads engine counts from
Spark's event log and profiles the rules, and reports the per-layer
metrics, its own overhead among them.

Every run ends with the golden check (outside the timed region): the
output row count must equal the input doc count, and a seeded sample
of docs must equal ``golden.process_document`` on the same input.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("text_flat", "media_job")
# repetitions run before timing: the first JVM jobs are 2-4x slower
# than steady state (class loading, JIT, Python worker start)
WARM_REPS = 3
TRACE_REPS = 3
PROFILE_DOCS = 400

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "cpu_s_per_kdoc": "s",
}
# every workload reports every layer; a layer the workload bypasses
# reads 0
PER_LAYER = {
    "corpus.derive_s": "s",
    "pipeline.reassemble_s": "s",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.hash_exchanges": "count",
    "pipeline.arrow_s": "s",
    "pipeline.arrow_share": "ratio",
    "pipeline.arrow_bytes_to_python": "bytes",
    "pipeline.arrow_bytes_from_python": "bytes",
    "golden.rules_s": "s",
    "golden.docs_per_s_1core": "docs/s",
    **{f"rules.{m}_share": "ratio" for m in (
        "cleanup", "classify", "format", "structure", "langdetect", "extract",
        "summarize", "confidence")},
    "rules.re_compile_calls_per_doc": "count",
    "skew.route_s": "s",
    "skew.mega_docs": "count",
    "skew.unrouted_s": "s",
    "skew.routed_s": "s",
    "skew.small_branch_s": "s",
    "skew.mega_branch_s": "s",
    "skew.max_task_s": "s",
    "checkpoint.sink_s": "s",
    "checkpoint.output_bytes": "bytes",
    "checkpoint.output_files": "count",
    "checkpoint.partitions_written": "count",
    "spark.gc_s": "s",
    "spark.task_cpu_s": "s",
    "spark.tasks": "count",
    "spark.cached_blocks_after_run": "count",
    "trace.untraced_wall_s": "s",
    "trace.layer_sum_s": "s",
    "trace.overhead_frac": "ratio",
}


def pin_environment(work: str, trace: bool) -> dict:
    """Session settings that must hold before Spark starts: all cores
    of this box, a driver heap that fits its memory, the repo root on
    the Python workers' path, every scratch file inside ``work`` and,
    for the traced run, Spark's event log."""
    cpus = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gib = max(1, min(4, int(ram_gib // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {"spark.driver.defaultJavaOptions": f"-Xms{heap_gib}g"}
    if trace:
        os.makedirs(os.path.join(work, "events"))
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
            "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # a fixed heap: left to grow on its own, the JVM's heap and
            # with it RSS, GC CPU and wall land in one of two modes by
            # chance, run to run
            "PYSPARK_SUBMIT_ARGS": " ".join(
                f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell",
        }
    )
    return {"cpus": cpus, "ram_gib": round(ram_gib, 1), "driver_mem": f"{heap_gib}g"}


def versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pandas": pandas.__version__,
            "pyarrow": pyarrow.__version__, "python": sys.version.split()[0]}


def cached_blocks(spark) -> int:
    return sum(r.numCachedPartitions() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched (it exits when its
    stdin closes), and wait until the whole process tree, the JVM's
    Python workers included, has ended."""
    from pyspark import SparkContext

    from extractbench import proctree

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(proctree.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def timed_run(spark, wl, seconds: float) -> tuple[dict, int, int]:
    """Repeats the workload for ``seconds``; each metric is the median
    over repetitions (a rep's memory is its own peak, so one rep's
    burst of extra Python workers does not set the run's figure)."""
    from extractbench import proctree

    me = os.getpid()
    walls, cpus, peaks, failed = [], [], [], 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or not walls:
        cpu0 = proctree.cpu_seconds(me)
        with proctree.PeakRss(me) as rss:
            t0 = time.perf_counter()
            try:
                wl.rep(spark, len(walls))
            except Exception as exc:  # a failed repetition fails all its docs
                print(f"repetition failed: {exc!r}", file=sys.stderr)
                failed += wl.n_docs
            walls.append(time.perf_counter() - t0)
        cpus.append(proctree.cpu_seconds(me) - cpu0)
        peaks.append(rss.peak)
        spark.catalog.clearCache()
        wl.cleanup_rep()
    metrics = {
        "docs_per_s": wl.n_docs / statistics.median(walls),
        "peak_rss_mb": statistics.median(peaks) / 2**20,
        "cpu_s_per_kdoc": statistics.median(cpus) / (wl.n_docs / 1000),
    }
    print(f"reps={len(walls)} walls={[round(w, 3) for w in walls]} "
          f"peak_mb={[p >> 20 for p in peaks]}", file=sys.stderr)
    return metrics, len(walls) * wl.n_docs, failed


def traced_run(spark, wl, events: str) -> dict[str, float]:
    """Times the cumulative plans, each repetition also running the
    workload's last plan alone (``trace.untraced_wall_s``) so the
    layer sum is compared with a wall taken in the same context at the
    same point of warm-up; returns the per-layer metrics."""
    from extractbench import trace

    chain = wl.chain()
    untraced = ("untraced", chain[-1][1])
    plans = chain + [untraced] + getattr(wl, "branches", list)()
    walls: dict[str, list[float]] = {name: [] for name, _ in plans}
    blocks = 0
    sc = spark.sparkContext
    for rep in range(TRACE_REPS):
        for name, action in plans:
            sc.setJobGroup(f"{name}#{rep}", name)
            t0 = time.perf_counter()
            action()
            walls[name].append(time.perf_counter() - t0)
            if name in (chain[-1][0], "skew.routed_s"):
                blocks = cached_blocks(spark)
            spark.catalog.clearCache()
            wl.cleanup_rep()
    profile = trace.profile_rules(wl.profile_docs(spark, PROFILE_DOCS))
    events_seen = trace.read_event_log(events)
    counts = trace.group_counts(events_seen, f"{chain[-1][0]}#{TRACE_REPS - 1}")

    med = {name: statistics.median(w) for name, w in walls.items()}
    metrics: dict[str, float] = {}
    prev = 0.0
    for name, _ in chain:
        metrics[name] = med[name] - prev
        prev = med[name]
    full = med[chain[-1][0]]
    reference = med["untraced"]
    metrics["trace.untraced_wall_s"] = reference
    metrics["trace.layer_sum_s"] = full
    metrics["trace.overhead_frac"] = full / reference - 1
    # the crossing's share of the Python stage (crossing plus rules)
    metrics["pipeline.arrow_share"] = metrics["pipeline.arrow_s"] / (
        metrics["pipeline.arrow_s"] + metrics["golden.rules_s"])
    for key in ("shuffle_write_bytes", "hash_exchanges", "arrow_bytes_to_python",
                "arrow_bytes_from_python"):
        metrics[f"pipeline.{key}"] = counts.get(key, 0)
    for key in ("gc_s", "task_cpu_s", "tasks"):
        metrics[f"spark.{key}"] = counts.get(key, 0)
    metrics["spark.cached_blocks_after_run"] = blocks
    if getattr(wl, "route_walls", None):
        metrics["skew.route_s"] = statistics.median(wl.route_walls)
        metrics["skew.mega_docs"] = len(wl.mega_ids)
        for name in ("skew.unrouted_s", "skew.routed_s", "skew.small_branch_s",
                     "skew.mega_branch_s"):
            metrics[name] = med[name]
        metrics["skew.max_task_s"] = trace.group_counts(
            events_seen, f"skew.routed_s#{TRACE_REPS - 1}").get("max_task_s", 0)
    metrics.update(profile)
    metrics.update(wl.output_counts())
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the benchmark's own smoke test shrinks it)")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".benchwork", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        return run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass


def run(args, work: str, env: dict) -> int:
    from extractbench import inputs
    from extractbench.workloads import WORKLOADS as CLASSES
    from smartglass_ocr_spark.session import get_spark

    wl = CLASSES[args.workload](work, args.seed, env["cpus"], args.scale)
    wl.generate()
    digest = inputs.digest(wl.input_path)

    t0 = time.perf_counter()
    spark = get_spark(f"extractbench-{wl.name}")
    try:
        wl.prepare(spark)
        wl.warm_up(spark)
        for i in range(WARM_REPS - 1):
            spark.catalog.clearCache()
            wl.cleanup_rep()
            wl.rep(spark, -2 - i)
        setup_s = time.perf_counter() - t0
        spark.catalog.clearCache()
        wl.cleanup_rep()

        if args.trace:
            layer = traced_run(spark, wl, os.path.join(work, "events"))
            metrics = {k: {"value": layer.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
            attempted, failed = 0, 0
        else:
            e2e, attempted, failed = timed_run(spark, wl, args.seconds)
            e2e["setup_s"] = setup_s
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        try:
            mismatched = wl.check(spark)
        except Exception as exc:  # a failed check fails every doc
            print(f"golden check failed: {exc!r}", file=sys.stderr)
            mismatched = wl.n_docs
    finally:
        stop_spark(spark)
    attempted += wl.n_docs
    failed += mismatched
    print(json.dumps({"workload": wl.name, "seed": args.seed, "input_sha256": digest,
                      "n_docs": wl.n_docs, **env, **versions()}), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
