"""Tests for the benchmark's own code: event-log parsing, seed
determinism, output checks, and a tiny run of every workload."""

import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from perfbench import checks, workloads
from perfbench.run import measure
from perfbench.trace import Tracer, attribute_jobs, read_event_log, under

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
EVENT_LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


# recorded from Spark 4.1 (trimmed): job 1 reads two parquet files of 50
# rows, job 2 is a 2-task shuffle map stage over range(1000), job 3 has a
# skipped stage 3 and runs stage 4
def test_event_log_parser_reads_jobs_and_task_metrics():
    jobs, tasks = read_event_log(EVENT_LOG)
    assert sorted(jobs) == [1, 2, 3]
    assert jobs[1]["submit"] == 1792176885.775 and jobs[1]["end"] == 1792176886.241
    assert [t["job"] for t in tasks] == [1, 1, 2, 2, 3, 3]
    assert sum(t["run_s"] for t in tasks) == pytest.approx(1.151)
    assert sum(t["shuffle_write_bytes"] for t in tasks) == 3695 + 2636
    assert [t["records_read"] for t in tasks] == [50, 50, 500, 500, 0, 0]
    assert sum(t["gc_s"] for t in tasks) == pytest.approx(0.068)


def test_jobs_attach_to_innermost_span():
    jobs, _ = read_event_log(EVENT_LOG)
    second = jobs[2]["submit"]
    tracer = Tracer()
    op = tracer.add("op", jobs[1]["submit"] - 1, jobs[3]["submit"] + 1)
    inner = tracer.add("round", second - 0.001, second + 0.1, op)
    attribute_jobs(jobs, tracer)
    assert [j["attrs"]["job_id"] for j in under(tracer, inner["id"], "job")] == [2]
    assert len(under(tracer, op["id"], "job")) == 3


def test_same_seed_gives_identical_inputs(tmp_path):
    def docs_bytes(seed, name):
        wl = workloads.ParseTokenizeWorkload(None, seed, str(tmp_path / name),
                                             False, n_domains=30)
        wl.make_inputs()
        return [open(os.path.join(wl.docs_dir, f), "rb").read()
                for f in sorted(os.listdir(wl.docs_dir))]

    first = docs_bytes(3, "a")
    assert first == docs_bytes(3, "b")
    assert first != docs_bytes(4, "c")

    def web(seed):
        wl = workloads.CrawlWorkload(None, seed, str(tmp_path), False, n_domains=30,
                                     lazy=True, host_budget=None,
                                     write_partitions=None, bloom_capacity=1 << 10)
        wl.make_inputs()
        wl.prepare_check()
        return [wl.pages.get(u) for u in sorted(r.url for r in wl.expected.crawl_log)]

    pages = web(5)
    assert pages == web(5)
    assert pages != web(6)


def test_crawl_problems_reports_a_corrupted_log():
    from privacy_crawler_parser_tokenizer_spark.core import CrawlOracle
    from privacy_crawler_parser_tokenizer_spark.sources.synth import gen_web

    pages, seeds, robots = gen_web(n_domains=12, seed=1)
    res = CrawlOracle(pages, seeds, workloads.GROUND_TRUTH, workloads.DICTIONARY,
                      threshold=0.3, max_depth=2, robots=robots).run()
    log = [checks.log_key(r) for r in res.crawl_log]
    metrics = [tuple(m[f] for f in checks.METRIC_FIELDS) for m in res.metrics]
    assert checks.crawl_problems(log, dict(res.seen), metrics, res) == []
    log[3] = log[3][:1] + ("http://elsewhere.example/",) + log[3][2:]
    problems = checks.crawl_problems(log, dict(res.seen), metrics, res)
    assert len(problems) == 1 and problems[0].startswith("crawl_log row 3")


def _tiny(name, spark, tmp_path, traced=True):
    sizes = {"crawl_floor": dict(n_domains=12, lazy=False, host_budget=8,
                                 write_partitions=4, bloom_capacity=1 << 12),
             "crawl_bulk": dict(n_domains=20, lazy=True, host_budget=None,
                                write_partitions=None, bloom_capacity=1 << 12)}
    if name in sizes:
        wl = workloads.CrawlWorkload(spark, 7, str(tmp_path), traced, **sizes[name])
        wl.warmup_seeds = 4
    else:
        wl = workloads.ParseTokenizeWorkload(spark, 7, str(tmp_path), traced,
                                             n_domains=6)
        wl.warmup_docs = 4
    wl.make_inputs()
    wl.warm_up()
    wl.prepare_check()
    return wl


@pytest.mark.parametrize("name", ["crawl_floor", "crawl_bulk", "parse_tokenize"])
def test_tiny_run_passes_its_output_check(spark, tmp_path, name):
    wl = _tiny(name, spark, tmp_path)
    ops, attempted, failed, layers = measure(wl, 0, Tracer(), traced=True)
    assert (attempted, failed, len(ops)) == (1, 0, 1)
    assert ops[0].items > 0 and ops[0].bytes > 0
    if name.startswith("crawl"):
        assert layers["frontier.rounds"] == len(ops[0].steps)
        assert layers["kernel.fetch_calls_per_granted"] >= 1.0
    else:
        assert layers["pipeline.docs"] == ops[0].items


def test_corrupted_crawl_log_counts_as_failed(spark, tmp_path):
    wl = _tiny("crawl_floor", spark, tmp_path, traced=False)
    run_op = wl.run_op

    def corrupted(i, tracer):
        op = run_op(i, tracer)
        fc = op.handle[0]
        log = fc.crawl_log
        fc.crawl_log = lambda: log().withColumn(
            "url", F.when(F.col("discovery_rank") == 0, F.lit("http://x.example/"))
            .otherwise(F.col("url")))
        return op

    wl.run_op = corrupted
    ops, attempted, failed, _ = measure(wl, 0, Tracer(), traced=False)
    assert (attempted, failed) == (1, 1)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_bulk",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
