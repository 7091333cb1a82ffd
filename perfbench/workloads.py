"""The three workloads.  Each makes its inputs from the seed, warms up,
runs one timed operation at a time and checks that operation's output.

  crawl_floor     FrontierCrawler over a small eager ``gen_web`` web with
                  the ``frontier_crawl`` query's config: small rounds, so
                  per-round fixed cost dominates.
  crawl_bulk      FrontierCrawler over the lazy ``gen_web_fn`` web with no
                  host budget: rounds of thousands of URLs, data-bound.
  parse_tokenize  pipeline.parse_tokenize over pages stored as parquet,
                  writing ``sentences`` and ``corpus_hist``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import functions as F

from privacy_crawler_parser_tokenizer_spark.core import CrawlOracle, ensure_scheme
from privacy_crawler_parser_tokenizer_spark.pipeline import (
    extract_documents,
    parse_tokenize,
)
from privacy_crawler_parser_tokenizer_spark.plans.frontier import (
    FrontierConfig,
    FrontierCrawler,
    PythonFetcher,
)
from privacy_crawler_parser_tokenizer_spark.sources.synth import (
    gen_web,
    gen_web_fn,
    make_dictionary,
    make_ground_truth,
)

from . import checks
from .trace import PHASES, RoundClock, Tracer, add_round_spans

GROUND_TRUTH = make_ground_truth()
DICTIONARY = make_dictionary()
FPP_PROBES = 20_000


@dataclass
class Op:
    """One timed operation: a crawl, or one parse/tokenize job."""
    items: int            # granted URLs, or input pages
    steps: list[float]    # round wall times, or the job's wall time
    bytes: int            # warehouse bytes, or output bytes on disk
    wall: float
    handle: object = None


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class _FetchPages:
    """Dict-like view of a fetch function, for the oracle."""

    def __init__(self, fetch):
        self._fetch = fetch

    def get(self, url, default=""):
        return self._fetch(url) or default


def _counted(fetch, acc):
    def counted(url):
        acc.add(1)
        return fetch(url)
    return counted


class CrawlWorkload:
    labels = {"items_per_s": "urls_per_s", "step_p50_s": "round_p50_s",
              "bytes_per_item": "state_bytes_per_url"}
    # one round over 64 seeds plans every round stage once and forks the
    # Python workers all four task slots use; a cold first round costs
    # about 15 s, so longer warm-ups do not fit the run's time budget
    warmup_seeds = 64
    warmup_rounds = 1

    def __init__(self, spark, seed: int, workdir: str, traced: bool, *,
                 n_domains: int, lazy: bool, host_budget: int | None,
                 write_partitions: int | None, bloom_capacity: int):
        self.spark, self.seed, self.workdir, self.traced = spark, seed, workdir, traced
        self.n_domains, self.lazy = n_domains, lazy
        self.host_budget = host_budget
        self.write_partitions = write_partitions
        self.bloom_capacity = bloom_capacity
        self.fetch_calls = spark.sparkContext.accumulator(0) if traced else None

    def make_inputs(self) -> None:
        if self.lazy:
            fetch, self.seeds, self.robots = gen_web_fn(self.n_domains, seed=self.seed)
            self.pages = _FetchPages(fetch)
        else:
            self.pages, self.seeds, self.robots = gen_web(
                n_domains=self.n_domains, seed=self.seed)
            bc = self.spark.sparkContext.broadcast(self.pages)

            def fetch(url):
                return bc.value.get(url, "")
        self.fetch = _counted(fetch, self.fetch_calls) if self.traced else fetch

    def config(self, **kw) -> FrontierConfig:
        return FrontierConfig(threshold=0.3, max_depth=2,
                              host_budget=self.host_budget,
                              bloom_capacity=self.bloom_capacity,
                              delta_write_partitions=self.write_partitions, **kw)

    def crawler(self, warehouse: str, seeds, config) -> FrontierCrawler:
        return FrontierCrawler(
            self.spark, warehouse, fetcher=PythonFetcher(self.fetch),
            seeds=seeds, ground_truth=GROUND_TRUTH, dictionary=DICTIONARY,
            robots=self.robots, config=config)

    def warm_up(self) -> None:
        wh = os.path.join(self.workdir, "warmup")
        self.crawler(wh, self.seeds[:self.warmup_seeds],
                     self.config(max_rounds=self.warmup_rounds)).run()
        shutil.rmtree(wh)

    def prepare_check(self) -> None:
        self.expected = CrawlOracle(
            self.pages, self.seeds, GROUND_TRUTH, DICTIONARY, threshold=0.3,
            max_depth=2, host_budget=self.host_budget, robots=self.robots,
        ).run()

    def run_op(self, i: int, tracer) -> Op:
        wh = os.path.join(self.workdir, f"wh{i}")
        t0 = time.monotonic()
        fc = self.crawler(wh, self.seeds, self.config())
        if self.traced:
            op_span = tracer.current
            with RoundClock(fc) as clock:
                fc.run()
        else:
            fc.run()
        wall = time.monotonic() - t0
        if self.traced:
            add_round_spans(tracer, op_span, fc, clock.ends)
        return Op(items=sum(r["granted"] for r in fc.round_trace),
                  steps=list(fc.round_seconds), bytes=dir_size(wh)[0],
                  wall=wall, handle=(fc, wh))

    def check(self, op: Op) -> list[str]:
        fc, _ = op.handle
        log = [checks.log_key(r) for r in fc.crawl_log().collect()]
        seen = {r.href: r.revisits for r in fc.seen().collect()}
        metrics = [tuple(m[f] for f in checks.METRIC_FIELDS)
                   for m in fc.metrics().collect()]
        return checks.crawl_problems(log, seen, metrics, self.expected)

    def layers(self, op: Op) -> dict[str, float]:
        """Per-layer numbers read off one finished crawl."""
        fc, wh = op.handle
        rt = fc.round_trace
        out = {"frontier.rounds": len(rt), "frontier.granted": op.items}
        for phase in PHASES:
            out[f"frontier.{phase}_s"] = sum(r[phase] for r in rt)
        skews, parts = [], []
        lineage = pd.DataFrame([r.asDict() for r in fc.lineage().collect()])
        for _, rows in lineage.groupby("round"):
            if rows["n_rows"].sum() > 0:
                skews.append(rows["n_rows"].max() / rows["n_rows"].mean())
                parts.append(len(rows))
        out["frontier.fetch_skew"] = statistics.median(skews)
        # lineage lists only partitions that received rows
        out["frontier.fetch_partitions"] = statistics.median(parts)
        seen = fc.seen().agg(F.count("*").alias("n"),
                             F.sum("revisits").alias("revisits")).first()
        out["seen.urls"] = seen.n
        out["seen.revisits"] = seen.revisits
        out["bloom.bytes"] = fc.bloom.nbytes
        out["bloom.broadcasts"] = fc.bloom_broadcasts_created
        probes = pd.Series([f"http://never-{self.seed}.example/p{i}"
                            for i in range(FPP_PROBES)], dtype="object")
        out["bloom.fpp_measured"] = float(fc.bloom.might_contain(probes).mean())
        out["warehouse.bytes"], out["warehouse.files"] = dir_size(wh)
        for table in sorted(os.listdir(wh)):
            if os.path.isdir(os.path.join(wh, table)):
                out[f"warehouse.bytes.{table}"] = dir_size(os.path.join(wh, table))[0]
        if self.fetch_calls is not None:
            out["kernel.fetch_calls_per_granted"] = self.fetch_calls.value / op.items
        return out

    def release(self, op: Op) -> None:
        shutil.rmtree(op.handle[1], ignore_errors=True)

    def kernel_pages(self) -> list[str]:
        """The pages the crawl fetches: every logged link and landing page."""
        urls = {r.url for r in self.expected.crawl_log}
        urls |= {ensure_scheme(d) for d in self.seeds}
        return [self.pages.get(u, "") for u in sorted(urls)]


def write_docs(docs: list[tuple[str, str]], path: str, files: int) -> str:
    """``(doc_id, html)`` rows as ``files`` parquet files, in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    per = -(-len(docs) // files)
    for k in range(files):
        chunk = docs[k * per:(k + 1) * per]
        table = pa.table({"doc_id": [d for d, _ in chunk],
                          "html": [h for _, h in chunk]})
        pq.write_table(table, os.path.join(path, f"part-{k:03d}.parquet"))
    return path


class ParseTokenizeWorkload:
    labels = {"items_per_s": "pages_per_s", "step_p50_s": "job_p50_s",
              "bytes_per_item": "output_bytes_per_page"}
    # the warm-up job runs on a quarter of the pages split into as many
    # files as the input, so every task slot has forked its Python worker
    # (with 64 pages the first timed job still ran 25% slow)
    warmup_docs = 700
    input_files = 8

    def __init__(self, spark, seed: int, workdir: str, traced: bool, *,
                 n_domains: int):
        self.spark, self.seed, self.workdir, self.traced = spark, seed, workdir, traced
        self.n_domains = n_domains

    def make_inputs(self) -> None:
        pages = gen_web(n_domains=self.n_domains, seed=self.seed)[0]
        self.docs = sorted((url, html) for url, html in pages.items() if html)
        self.docs_dir = write_docs(self.docs, os.path.join(self.workdir, "docs"),
                                   self.input_files)
        self.warm_dir = write_docs(self.docs[:self.warmup_docs],
                                   os.path.join(self.workdir, "warm_docs"),
                                   self.input_files)

    def _materialize(self, docs_dir: str, out_dir: str, tracer: Tracer) -> None:
        out = parse_tokenize(self.spark.read.parquet(docs_dir))
        for name in ("sentences", "corpus_hist"):
            with tracer.span(f"write_{name}"):
                out[name].write.parquet(f"{out_dir}/{name}")

    def warm_up(self) -> None:
        out_dir = os.path.join(self.workdir, "warm_out")
        self._materialize(self.warm_dir, out_dir, Tracer())
        shutil.rmtree(out_dir)

    def prepare_check(self) -> None:
        ref = checks.reference_outputs(self.docs)
        self.expected = {name: checks.digest(rows) for name, rows in ref.items()}

    def run_op(self, i: int, tracer) -> Op:
        out_dir = os.path.join(self.workdir, f"out{i}")
        t0 = time.monotonic()
        self._materialize(self.docs_dir, out_dir, tracer)
        wall = time.monotonic() - t0
        return Op(items=len(self.docs), steps=[wall],
                  bytes=dir_size(out_dir)[0], wall=wall, handle=out_dir)

    def check(self, op: Op) -> list[str]:
        return checks.pipeline_problems(checks.read_outputs(op.handle), self.expected)

    def layers(self, op: Op) -> dict[str, float]:
        """Pipeline counts, and each public function's output timed
        alone (materialized to the no-op sink)."""
        import pyarrow.parquet as pq

        docs = self.spark.read.parquet(self.docs_dir)
        out = parse_tokenize(docs)
        n = len(self.docs)
        layers = {
            "pipeline.docs": n,
            "pipeline.spans": out["spans"].count(),
            "pipeline.sentences": pq.read_table(f"{op.handle}/sentences",
                                                columns=["doc_id"]).num_rows,
            "pipeline.parse_ok_frac": out["extracted"].filter("parse_ok").count() / n,
        }
        for name, df in (("extract", extract_documents(docs)),
                         ("sentences", out["sentences"]),
                         ("hist", out["corpus_hist"])):
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            layers[f"pipeline.{name}_s"] = time.monotonic() - t0
        return layers

    def release(self, op: Op) -> None:
        shutil.rmtree(op.handle, ignore_errors=True)

    def kernel_pages(self) -> list[str]:
        return [h for _, h in self.docs]


def make(name: str, spark, seed: int, workdir: str, traced: bool):
    if name == "crawl_floor":
        return CrawlWorkload(spark, seed, workdir, traced, n_domains=300,
                             lazy=False, host_budget=8, write_partitions=4,
                             bloom_capacity=1 << 16)
    if name == "crawl_bulk":
        n = 2000
        return CrawlWorkload(spark, seed, workdir, traced, n_domains=n,
                             lazy=True, host_budget=None, write_partitions=None,
                             bloom_capacity=1 << (8 * n).bit_length())
    if name == "parse_tokenize":
        return ParseTokenizeWorkload(spark, seed, workdir, traced, n_domains=800)
    raise ValueError(f"unknown workload {name!r}")
