"""Benchmark of the tick pipeline and its queries at local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run is one process: it starts Spark
through the package's ``session.get_spark`` (set-up), makes the
workload's inputs from the seed, warms up untimed, measures for
``--seconds``, checks every output against an independent answer, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones from a run that also records spans (see README.md).
The exit code is 0 only when every output was correct. Workloads:

- ``ingest``        catch-up drain of a seeded frame backlog (throughput),
                    then live frame files at a fixed tick rate (freshness)
- ``tick_queries``  closed-loop Q1-Q8 round-robin over a seeded table
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

import ingest
import queries
from harness import (
    RssSampler,
    Tracer,
    cpu_times,
    git_commit,
    prepare_env,
    process_age_s,
    program_present,
    quantile,
    set_up,
    steal_pct,
    stop_descendants,
)

WORK_DIR = ".perfbench_work"  # under the repository root; git-ignored
WATCHDOG_S = 170

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "peak_rss_mb": "MB",
}
WORKLOADS = {"ingest": ingest.Ingest, "tick_queries": queries.TickQueries}
PER_LAYER = {
    "frames.gen_lag_max_ms": "ms",
    "frames.backlog_files_end": "count",
    "decoder.frames_in": "count",
    "decoder.frames_corrupt": "count",
    "decoder.decode_ms": "ms",
    "ingest.epochs": "count",
    "ingest.rows_per_epoch": "count",
    "ingest.add_batch_ms": "ms",
    "ingest.overhead_ms": "ms",
    "ingest.dedup_ms": "ms",
    "ingest.dup_dropped": "count",
    "ingest.late_dropped": "count",
    "ingest.state_rows": "count",
    "ingest.state_commit_ms": "ms",
    "commit.stage_ms": "ms",
    "commit.rename_ms": "ms",
    "commit.files_per_epoch": "count",
    "commit.bytes_per_tick": "B",
    **{
        f"q.{q}.{k}": unit
        for q in queries.QUERY_NAMES
        for k, unit in (("ms", "ms"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"))
    },
    "trace.self_cover_pct": "%",
    "trace.throughput_per_s": "1/s",
    "trace.latency_p50_ms": "ms",
}


class Ctx:
    """What a workload needs from the run: seed, duration, its own
    work directory, the tracer, the run record and the operation
    counts that make up ``attempted`` / ``failed``."""

    def __init__(self, run_dir, seed, seconds, tracer):
        self.run_dir, self.seed, self.seconds, self.tracer = run_dir, seed, seconds, tracer
        self.record: dict = {}
        self.attempted = 0
        self.failed = 0

    def mismatch(self, what: str) -> None:
        self.record.setdefault("mismatches", []).append(what)
        print(f"perfbench: MISMATCH {what}", file=sys.stderr)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def abort(reason: str) -> None:
    print(f"perfbench: {reason}", file=sys.stderr, flush=True)
    stop_descendants(5)
    os._exit(3)


def run(args, root: str) -> tuple[dict, dict, Ctx]:
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(root, WORK_DIR, run_id)
    prepare_env(root, run_dir, cores)
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, root)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(run_dir, args.seed, args.seconds, tracer)
    import pyspark

    rec = ctx.record
    rec.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        nproc=cores, pyspark=pyspark.__version__, commit=git_commit(root),
        loadavg_start=list(os.getloadavg()),
    )
    cpu_start = cpu_times()
    rss = RssSampler().start()
    # set-up is timed from process start: interpreter, imports, JVM
    # launch, first job
    spark = set_up(cores)
    setup_s = process_age_s()
    try:
        sc = spark.sparkContext
        rec.update(master=sc.master, default_parallelism=sc.defaultParallelism)
        phases = rec["phases_at_s"] = {"setup": setup_s}
        wl = WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.make_inputs()
        rec["inputs_s"] = time.perf_counter() - t
        phases["inputs"] = process_age_s()
        wl.warm_up(spark)
        phases["warm_up"] = process_age_s()
        res = wl.measure(spark, args.seconds)
        phases["measure_and_check"] = process_age_s()
        lat = res["latencies_ms"]
        rec["latency_samples"] = len(lat)
        layers = wl.layers(spark) if args.trace and not ctx.failed else {}
        phases["layers"] = process_age_s()
    finally:
        spark.stop()
        rec["loadavg_end"] = list(os.getloadavg())
        rec["cpu_steal_pct"] = steal_pct(cpu_start, cpu_times())
        peak = rss.stop()
        rec["peak_rss_by_process_mb"] = rss.breakdown_mb()
        stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        tracer.write(os.path.join(root, WORK_DIR, "traces", run_id + ".jsonl"))
    rec["exit_at_s"] = process_age_s()
    metrics = {}
    if res["throughput"] and lat:
        metrics = {
            "setup_s": setup_s,
            "throughput_per_s": res["throughput"],
            "latency_p50_ms": quantile(lat, 0.5),
            "latency_p90_ms": quantile(lat, 0.9),
            "peak_rss_mb": peak,
        }
    if args.trace:
        # one report shape for every workload: layers a workload does
        # not exercise read 0
        per_layer = {name: 0 for name in PER_LAYER}
        per_layer.update(layers)
        if metrics:
            per_layer["trace.throughput_per_s"] = metrics["throughput_per_s"]
            per_layer["trace.latency_p50_ms"] = metrics["latency_p50_ms"]
        rec["end_to_end"] = metrics
        return per_layer, PER_LAYER, ctx
    return metrics, END_TO_END, ctx


def main(argv=None) -> int:
    root = os.getcwd()
    if not program_present(root):
        print(
            "perfbench: run from the repository root; the package and "
            "__spark_entry__.py were not found here",
            file=sys.stderr,
        )
        return 2
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: abort("terminated"))
    watchdog = threading.Timer(WATCHDOG_S, abort, args=(f"run exceeded {WATCHDOG_S}s",))
    watchdog.daemon = True
    watchdog.start()
    try:
        values, units, ctx = run(args, root)
    except Exception:
        traceback.print_exc()
        stop_descendants()
        return 1
    finally:
        watchdog.cancel()
    correct = ctx.failed == 0 and not ctx.record.get("mismatches") and bool(values)
    rec_dir = os.path.join(root, WORK_DIR, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(ctx.record, f, indent=1, default=str)
    print(json.dumps({"run_record": ctx.record}, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, ctx.attempted),
                "failed": ctx.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
