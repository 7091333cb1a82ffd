#!/usr/bin/env python
"""Scaling-efficiency evidence: the same job at two parallelism levels
(local[N] vs local[4N]) on identical input, per BASELINE.json's
two-cluster-size criterion (no real cluster in this sandbox).

Jobs:
  pipeline  -- the crawl DATA PLANE: fetch(join) -> strip -> verify
               (English gate + TF-IDF) -> extract spans -> sentence
               tokenize -> quality rules -> noop sink.  This is the
               "URLs fetched+tokenized/sec" metric; embarrassingly
               parallel apart from the per-doc window shuffles, so it
               is the stage whose scaling must hold at 100 TB.
  frontier  -- the full round-loop scheduler (control plane included):
               fetches/sec across all rounds.  Per-round fixed costs
               (snapshot commits, Bloom rebuild, driver counts) do not
               shrink with cores, so its efficiency is reported
               separately — at production scale those costs amortize
               over vastly larger rounds.

Usage:  python tools/bench_scaling.py            # orchestrates both levels
        SCALE_CPUS_SMALL=8 SCALE_CPUS_BIG=32 SCALE_PAGES=200000 ...
Writes one JSON line; BENCH/BASELINE.md records the numbers.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SMALL = int(os.environ.get("SCALE_CPUS_SMALL", "8"))
BIG = int(os.environ.get("SCALE_CPUS_BIG", "32"))
N_PAGES = int(os.environ.get("SCALE_PAGES", "100000"))
N_DOMAINS = int(os.environ.get("SCALE_DOMAINS", "20000"))
# the sandbox VM shows ~3x run-to-run noise (noisy neighbors); repeats
# with best-rate selection recover the undisturbed throughput
REPEATS = int(os.environ.get("SCALE_REPEATS", "3"))


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"pcpt-scaling-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("BENCH_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _base_pages(spark):
    """~4 pages/domain deterministic web, replicated up to N_PAGES rows
    and materialized to parquet ONCE (outside the timed window).  The
    timed job scans parquet — embedding the generated web as a local
    relation would ship the whole dataset inside every task closure
    (LocalTableScan), which anti-scales with partition count."""
    import glob

    from pyspark.sql import functions as F

    from privacy_crawler_parser_tokenizer_spark.sources.synth import gen_web

    path = f"/tmp/pcpt-scale-pages-{N_PAGES}.parquet"
    if not glob.glob(os.path.join(path, "_SUCCESS")):
        pages, _, _ = gen_web(n_domains=2000, seed=42)
        base = spark.createDataFrame(list(pages.items()), "url string, html string")
        reps = max(1, N_PAGES // len(pages))
        big = base.crossJoin(spark.range(reps).select(F.col("id").alias("rep")))
        big.select(
            F.concat("url", F.lit("?rep="), F.col("rep")).alias("doc_id"),
            F.col("url"),
            F.col("html"),
        ).repartition(64).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    return df, df.count()


def job_pipeline(spark) -> tuple[float, int]:
    """Fetch+verify+extract+tokenize data plane; returns (sec, pages)."""
    from pyspark.sql import functions as F

    from privacy_crawler_parser_tokenizer_spark.functions.udfs import (
        broadcast_dictionary,
        broadcast_ground_truth,
        make_process_batch_fn,
    )
    from privacy_crawler_parser_tokenizer_spark.operators.bloom import ShardedBloom
    from privacy_crawler_parser_tokenizer_spark.pipeline import parse_tokenize
    from privacy_crawler_parser_tokenizer_spark.sources.synth import (
        make_dictionary,
        make_ground_truth,
    )

    docs, n = _base_pages(spark)
    # the crawl's page kernel on link pages at the depth budget
    # (max_depth=0): strip + verify, no link extraction, so the empty
    # Bloom probes nothing
    process = make_process_batch_fn(
        broadcast_ground_truth(spark, make_ground_truth()),
        broadcast_dictionary(spark, make_dictionary()),
        0,
        spark.sparkContext.broadcast(ShardedBloom(1)),
    )
    t0 = time.monotonic()
    staged = docs.select(
        "doc_id", "html", F.lit("link").alias("phase"),
        F.lit(0).alias("depth_count"),
    ).mapInPandas(
        lambda batches: (process(pdf) for pdf in batches),
        "doc_id string, html string, phase string, depth_count int, "
        "contents string, hrefs array<string>, might array<boolean>, "
        "sim_raw double",
    )
    # only (doc_id, html): parse_tokenize passes other doc columns through
    sentences = parse_tokenize(docs.select("doc_id", "html"))["sentences"]
    # attach the verify score so BOTH the tokenize and verify paths are
    # materialized in one action (same shape as the crawl data plane)
    out = sentences.join(
        staged.select("doc_id", F.col("sim_raw").alias("sim")), "doc_id"
    )
    out.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0, n


def job_frontier(spark) -> tuple[float, int]:
    """Full round-loop crawl; returns (sec, total fetches).

    Fetch path: PythonFetcher over a broadcast url->html dict — the
    production shape (mapInPandas fetch, no web-table join re-scanned
    every round); politeness budget sized so the hot shared host doesn't
    serialize the bench into sparse rounds."""
    import tempfile

    from pyspark.sql import functions as F

    from privacy_crawler_parser_tokenizer_spark.plans.frontier import (
        FrontierConfig,
        FrontierCrawler,
        PythonFetcher,
    )
    from privacy_crawler_parser_tokenizer_spark.sources.synth import (
        gen_web,
        make_dictionary,
        make_ground_truth,
    )

    pages, seeds, robots = gen_web(n_domains=N_DOMAINS, seed=42)
    bc_pages = spark.sparkContext.broadcast(pages)
    fetcher = PythonFetcher(lambda u: bc_pages.value.get(u, ""))
    t0 = time.monotonic()
    fc = FrontierCrawler(
        spark, tempfile.mkdtemp(prefix="pcpt-scale-"), fetcher=fetcher,
        seeds=seeds, ground_truth=make_ground_truth(),
        dictionary=make_dictionary(), robots=robots,
        config=FrontierConfig(threshold=0.3, max_depth=2, host_budget=1024,
                              bloom_capacity=1 << 20),
    )
    fc.run()
    sec = time.monotonic() - t0
    fetches = fc.metrics().agg(F.sum("fetched")).collect()[0][0] or 0
    bc_pages.destroy()
    return sec, int(fetches)


def job_cpu(spark) -> tuple[float, int]:
    """Pure-CPU multiprocessing burn: the HARDWARE scaling ceiling of
    this VM (its 32 schedulable cores deliver ~16 cores of sustained
    throughput), against which the engine's efficiency is normalized in
    BENCH/BASELINE.md.  ``spark`` unused (same worker signature)."""
    import multiprocessing as mp

    procs = int(spark.sparkContext.master.split("[")[1].rstrip("]"))
    total = 400_000_000
    t0 = time.monotonic()
    with mp.Pool(procs) as p:
        p.map(_burn_units, [total // procs] * procs)
    return time.monotonic() - t0, total


def _burn_units(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


JOBS = {"pipeline": job_pipeline, "frontier": job_frontier, "cpu": job_cpu}


def worker(job: str, cpus: int) -> None:
    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    fn = JOBS[job]
    if job != "cpu":
        fn(spark)  # warmup: codegen + python-worker spin-up out of timing
    sec, units = fn(spark)
    spark.stop()
    print(json.dumps({"job": job, "cpus": cpus, "sec": round(sec, 2),
                      "units": units, "rate": round(units / sec, 1)}))


def main() -> None:
    if "--worker" in sys.argv:
        worker(sys.argv[sys.argv.index("--job") + 1],
               int(sys.argv[sys.argv.index("--cpus") + 1]))
        return

    def run_once(job: str, cpus: int) -> dict:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             "--job", job, "--cpus", str(cpus)],
            capture_output=True, text=True, cwd=REPO, check=True,
            env={**os.environ},
        )
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        return json.loads(line)

    jobs = os.environ.get("SCALE_JOBS", "cpu,pipeline,frontier").split(",")
    results: dict[str, dict[int, dict]] = {}
    scale = BIG / SMALL
    report = {"cpus_small": SMALL, "cpus_big": BIG, "scale": scale}
    for job in jobs:
        runs: dict[int, list[dict]] = {SMALL: [], BIG: []}
        for _ in range(REPEATS):          # interleave levels across repeats
            for cpus in (SMALL, BIG):
                runs[cpus].append(run_once(job, cpus))
        results[job] = r = {
            cpus: max(rs, key=lambda rr: rr["rate"]) for cpus, rs in runs.items()
        }
        eff = r[BIG]["rate"] / (scale * r[SMALL]["rate"])
        report[job] = {
            f"rate_{SMALL}c": r[SMALL]["rate"],
            f"rate_{BIG}c": r[BIG]["rate"],
            f"sec_{SMALL}c": r[SMALL]["sec"],
            f"sec_{BIG}c": r[BIG]["sec"],
            "units": r[BIG]["units"],
            "scaling_efficiency": round(eff, 3),
            "samples": {c: [x["rate"] for x in rs] for c, rs in runs.items()},
        }
        print(json.dumps({job: report[job]}), flush=True)  # progress line

    if "cpu" in report:
        ceiling = report["cpu"]["scaling_efficiency"]
        for job in jobs:
            if job != "cpu" and ceiling > 0:
                report[job]["efficiency_vs_hardware_ceiling"] = round(
                    report[job]["scaling_efficiency"] / ceiling, 3
                )
    print(json.dumps(report))


if __name__ == "__main__":
    main()
