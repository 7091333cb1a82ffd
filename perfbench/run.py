#!/usr/bin/env python3
"""Crawl-and-tokenize benchmark.

    python3 perfbench/run.py --workload crawl_floor --seed 1 --seconds 10 --trace 0

Runs one workload (crawl_floor, crawl_bulk or parse_tokenize) as a
closed loop on ``local[4]``: one driver process runs one timed
operation (a whole crawl, or one parse/tokenize job) at a time until the
timed operations add up to ``--seconds`` (at least one).  The seed makes
the inputs.  Each operation's output is checked against an oracle
outside the timed window.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  A traced run also enables
Spark's event log, prints every per-layer number the workload has, and
writes its spans to ``.perfbench/trace/``.  Scratch data lives under
``.perfbench/`` next to this directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "privacy_crawler_parser_tokenizer_spark"
WORKLOADS = ("crawl_floor", "crawl_bulk", "parse_tokenize")
CORES = 4

END_TO_END = {
    "items_per_s": "1/s",
    "step_p50_s": "s",
    "bytes_per_item": "B",
    "peak_rss_mb": "MiB",
    "setup_s": "s",
}
# per-layer metrics every workload has; workload-specific ones are
# printed and written to the trace directory
PER_LAYER = {
    "spark.jobs": "count/op",
    "spark.tasks": "count/op",
    "spark.executor_run_s": "s/op",
    "spark.executor_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.slot_busy_frac": "ratio",
    "core.strip_links_us": "us",
    "core.verify_us": "us",
    "core.extract_us": "us",
    "core.sentencize_us": "us",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(tmp: str) -> None:
    """Point every temporary file of this process, the JVMs and the
    Python workers at ``tmp``, and let the workers import the program
    from ``ROOT``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp


def make_session(name: str, run_dir: str, event_log_dir: str | None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName(f"perfbench-{name}")
         .config("spark.sql.shuffle.partitions", str(CORES))
         # a 1g heap is filled within one run, so the JVM's resident size
         # no longer depends on when G1 chose to grow the heap (with 2g,
         # peak memory spread 10-19% between runs; with 1g, about 5%)
         .config("spark.driver.memory", "1g")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(run_dir, "spark-warehouse")))
    if event_log_dir:
        # Spark 4 writes rolled, zstd-compressed event logs by default;
        # keep one plain JSON file so it parses without a zstd module
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every child process has exited."""
    from pyspark import SparkContext

    from perfbench.trace import children_by_parent

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while children_by_parent().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def end_to_end(ops, setup_s: float, peak_bytes: int) -> dict[str, float]:
    return {
        "items_per_s": statistics.median(op.items / op.wall for op in ops),
        "step_p50_s": statistics.median(s for op in ops for s in op.steps),
        "bytes_per_item": statistics.median(op.bytes / op.items for op in ops),
        "peak_rss_mb": peak_bytes / 2**20,
        "setup_s": setup_s,
    }


def engine_layers(tracer, event_log_dir: str) -> dict[str, float]:
    """Spark engine numbers per timed operation, from the event log,
    with every job attributed to the benchmark span it started in."""
    from perfbench.trace import attribute_jobs, find_event_log, read_event_log, under

    jobs, tasks = read_event_log(find_event_log(event_log_dir))
    attribute_jobs(jobs, tracer)
    op_spans = [s for s in tracer.spans if s["name"] == "op"]
    n = len(op_spans)
    wall = sum(s["end"] - s["start"] for s in op_spans)
    op_jobs = {j["attrs"]["job_id"] for s in op_spans for j in under(tracer, s["id"], "job")}
    op_tasks = [t for t in tasks if t["job"] in op_jobs]

    def per_op(key):
        return sum(t[key] for t in op_tasks) / n

    out = {
        "spark.jobs": len(op_jobs) / n,
        "spark.tasks": len(op_tasks) / n,
        "spark.executor_run_s": per_op("run_s"),
        "spark.executor_cpu_s": per_op("cpu_s"),
        "spark.gc_s": per_op("gc_s"),
        "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "spark.spill_bytes": per_op("spill_bytes"),
        "spark.records_read": per_op("records_read"),
        "spark.slot_busy_frac": sum(t["run_s"] for t in op_tasks) / (wall * CORES),
    }
    rounds = [r for s in op_spans for r in under(tracer, s["id"], "round")]
    if rounds:
        round_jobs = sum(len(under(tracer, r["id"], "job")) for r in rounds)
        out["frontier.jobs_per_round"] = round_jobs / len(rounds)
    return out


def trace_layers(tracer, event_log_dir: str, layers: dict, e2e: dict,
                 untraced_path: str) -> dict[str, float]:
    """Engine numbers from the event log, documents read per pass, and
    the tracing overhead against this seed's untraced result."""
    out = engine_layers(tracer, event_log_dir)
    if "pipeline.docs" in layers:  # the documents table is the only input
        out["pipeline.input_passes"] = out["spark.records_read"] / layers["pipeline.docs"]
    if os.path.exists(untraced_path):
        with open(untraced_path) as fp:
            base = json.load(fp)
        for key in ("items_per_s", "step_p50_s"):
            out[f"trace.overhead.{key}"] = (e2e[key] - base[key]) / base[key]
    else:
        print("  (no --trace 0 result for this seed: tracing overhead not computed)")
    return out


def measure(wl, seconds: float, tracer, traced: bool):
    """Timed operations back to back until their wall time adds up to
    ``seconds``; returns (ops, attempted, failed, layers)."""
    ops, attempted, failed, layers = [], 0, 0, {}
    timed = 0.0
    while timed < seconds or attempted == 0:
        op = None
        with tracer.span("op", index=attempted) as span:
            try:
                op = wl.run_op(attempted, tracer)
            except Exception:
                traceback.print_exc()
        attempted += 1
        timed += span["end"] - span["start"]
        if op is None:
            failed += 1
            continue
        ops.append(op)
        with tracer.span("check"):
            try:
                problems = wl.check(op)
            except Exception as e:
                traceback.print_exc()
                problems = [f"check raised {type(e).__name__}: {e}"]
        if problems:
            failed += 1
            print(f"op {attempted - 1} failed its output check:", *problems,
                  sep="\n  ", file=sys.stderr)
        if traced and timed >= seconds:
            with tracer.span("layers"):
                layers = wl.layers(op)
        wl.release(op)
    return ops, attempted, failed, layers


def run(args, run_dir: str, out_root: str, rss) -> dict | None:
    from perfbench import workloads
    from perfbench.kernels import kernel_timings, sample
    from perfbench.trace import Tracer

    traced = bool(args.trace)
    tracer = Tracer()
    event_log_dir = os.path.join(run_dir, "eventlog") if traced else None
    if event_log_dir:
        os.makedirs(event_log_dir)
    with tracer.span("workload", workload=args.workload, seed=args.seed):
        # set-up = session start + inputs + warm-up
        t0 = time.monotonic()
        with tracer.span("session"):
            spark = make_session(args.workload, run_dir, event_log_dir)
        try:
            wl = workloads.make(args.workload, spark, args.seed, run_dir, traced)
            with tracer.span("inputs"):
                wl.make_inputs()
            with tracer.span("warmup"):
                wl.warm_up()
            setup_s = time.monotonic() - t0
            with tracer.span("oracle"):
                wl.prepare_check()
            ops, attempted, failed, layers = measure(wl, args.seconds, tracer, traced)
            peak = rss.peak
            if traced and ops:
                with tracer.span("kernels"):
                    layers.update(kernel_timings(sample(wl.kernel_pages()),
                                                 workloads.GROUND_TRUTH,
                                                 workloads.DICTIONARY))
        finally:
            stop_spark(spark)
    if not ops:
        print("no timed operation completed", file=sys.stderr)
        return None
    e2e = end_to_end(ops, setup_s, peak)
    name = f"{args.workload}-s{args.seed}"
    results_dir = os.path.join(out_root, "results")
    os.makedirs(results_dir, exist_ok=True)
    with open(os.path.join(results_dir, f"{name}-trace{args.trace}.json"), "w") as fp:
        json.dump(e2e, fp)

    print(f"{args.workload} seed={args.seed} ops={attempted} failed={failed}")
    for key, unit in END_TO_END.items():
        print(f"  {wl.labels.get(key, key):24s} {e2e[key]:14.4f} {unit}")
    print(f"  {'failed_frac':24s} {failed / attempted:14.4f} ratio")
    if traced:
        layers.update(trace_layers(
            tracer, event_log_dir, layers, e2e,
            os.path.join(results_dir, f"{name}-trace0.json")))
        trace_dir = os.path.join(out_root, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{name}.spans.jsonl"))
        with open(os.path.join(trace_dir, f"{name}.layers.json"), "w") as fp:
            json.dump(layers, fp, indent=1, sort_keys=True)
        print("per-layer:")
        for key in sorted(layers):
            print(f"  {key:34s} {layers[key]:16.6f}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"{PACKAGE} not found in {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2

    from perfbench.trace import PeakMemory

    out_root = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_root, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    isolate(tmp)
    rss = PeakMemory()
    rss.start()
    try:
        result = run(args, run_dir, out_root, rss)
    finally:
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
