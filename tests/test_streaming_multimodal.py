"""Streaming jobs: batch equivalence of the sentence and exact-dedup
streams, the windowed rule counts, the crawl_log monitor, and the CSV
sinks."""

import pandas as pd
import pytest

from privacy_crawler_parser_tokenizer_spark.pipeline import parse_tokenize
from privacy_crawler_parser_tokenizer_spark.streaming import jobs

HTML_DOCS = [
    ("d1", "<html><body><h1>Privacy Policy</h1><p>We collect data. "
           "We share it.</p><ul><li>cookies</li><li>beacons</li></ul>"
           "<p>Contact us!</p></body></html>"),
    ("d2", "<html><body><p>Short one.</p></body></html>"),
    ("d3", "<html><body><h2>Terms</h2><p>No policy here at all, "
           "just words without end</p></body></html>"),
    # fails the parse gate: 7 sentences of div text no span covers (> 5)
    ("d4", "<html><body><div>One here. Two here. Three here. Four here. "
           "Five here. Six here. Seven here.</div><p>Kept sentence.</p>"
           "</body></html>"),
]


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream-docs")
    rows = [
        (doc_id, html,
         (pd.Timestamp("2026-01-01 00:00:00") + pd.Timedelta(minutes=i)).to_pydatetime())
        for i, (doc_id, html) in enumerate(HTML_DOCS)
    ]
    spark.createDataFrame(rows, jobs.DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d))
    return str(d)


def test_streaming_sentences_equal_batch(spark, docs_dir):
    """The stream must equal the batch parse_tokenize sentences row for
    row, parse gate included (d4 fails it and emits nothing)."""
    stream = jobs.sentences_stream(jobs.read_documents_stream(spark, docs_dir))
    assert stream.isStreaming
    jobs.run_to_memory(stream, "sent_stream")
    got = {
        (r.doc_id, r.seq_index, r.tag, r.prec_by, r.proc_by, r.sent_idx, r.text,
         r.n_words, tuple(r.rule_hits))
        for r in spark.table("sent_stream").collect()
    }

    batch_docs = spark.read.parquet(docs_dir).select("doc_id", "html")
    batch = parse_tokenize(batch_docs)["sentences"]
    want = {
        (r.doc_id, r.seq_index, r.tag, r.prec_by, r.proc_by, r.sent_idx, r.text,
         r.n_words, tuple(r.rule_hits))
        for r in batch.collect()
    }
    assert got == want and len(got) > 3
    assert "d4" not in {g[0] for g in got}


def test_streaming_windowed_rule_counts(spark, docs_dir):
    stream = jobs.sentences_stream(jobs.read_documents_stream(spark, docs_dir))
    win = jobs.windowed_rule_counts(stream, window="1 minute", watermark="0 seconds")
    jobs.run_to_memory(win, "win_counts", output_mode="complete")
    rows = spark.table("win_counts").collect()
    # docs at minutes 0,1,2 pass the parse gate (d4 at minute 3 fails
    # it) -> one window per passing doc's minute
    assert len({r.win_start for r in rows}) == 3
    assert sum(r.cnt for r in rows) > 0


def test_crawl_log_streaming_monitor(spark, tmp_path):
    """Streaming monitor over the frontier's own crawl_log deltas:
    per-round counts must equal the batch metrics."""
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

    pages, seeds, robots = gen_web(n_domains=5, seed=3)
    fc = FrontierCrawler(
        spark, str(tmp_path / "wh"),
        fetcher=PythonFetcher(pages.get),
        seeds=seeds, ground_truth=make_ground_truth(),
        dictionary=make_dictionary(), robots=robots,
        config=FrontierConfig(threshold=0.3, bloom_capacity=1 << 12),
    )
    fc.run()

    mon = jobs.crawl_monitor(jobs.crawl_log_stream(spark, str(tmp_path / "wh")))
    jobs.run_to_memory(mon, "crawl_mon", output_mode="complete")
    got = {r.round: (r.requests, r.policies) for r in spark.table("crawl_mon").collect()}
    batch = fc.crawl_log().groupBy("round").count().collect()
    want_requests = {r.round: r["count"] for r in batch}
    assert {k: v[0] for k, v in got.items()} == want_requests
    policies = {m.round: m.policies for m in fc.metrics().collect() if m.round in got}
    for rnd, (_, pol) in got.items():
        assert pol == policies[rnd]


def test_save_reference_outputs_csv(spark, tmp_path):
    """§2.1 CSV sinks: per-doc partitioned CSV datasets round-trip."""
    from privacy_crawler_parser_tokenizer_spark.pipeline import save_reference_outputs

    docs = spark.createDataFrame(
        [(d, h) for d, h in HTML_DOCS], "doc_id string, html string"
    )
    out = parse_tokenize(docs)
    save_reference_outputs(out, str(tmp_path / "csv"))

    sent = (
        spark.read.option("header", True).csv(str(tmp_path / "csv" / "sentences_csv"))
    )
    assert sent.count() == out["sentences"].count() > 0
    assert "rules" in sent.columns and "doc_id" in sent.columns
    # one partition dir per document
    import glob as g
    dirs = g.glob(str(tmp_path / "csv" / "sentences_csv" / "doc_id=*"))
    assert len(dirs) == out["sentences"].select("doc_id").distinct().count()


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming first-arrival dedup keeps exactly one row per content
    hash — same kept-hash SET as batch dropDuplicates (the kept doc_id
    may differ by arrival order; the batch twin exact_dedup pins
    first-writer by doc_id, the stream by arrival)."""
    import pandas as pd

    rows = [
        ("a1", "<p>same policy</p>"),
        ("a2", "<p>same policy</p>"),     # dup of a1
        ("a3", "<p>other policy</p>"),
        ("a4", "<p>same policy</p>"),     # dup again
        ("a5", "<p>third</p>"),
    ]
    d = tmp_path / "dedup-docs"
    spark.createDataFrame(
        [
            (doc_id, html,
             (pd.Timestamp("2026-01-01") + pd.Timedelta(minutes=i)).to_pydatetime())
            for i, (doc_id, html) in enumerate(rows)
        ],
        jobs.DOCS_STREAM_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(str(d))

    stream = jobs.exact_dedup_stream(jobs.read_documents_stream(spark, str(d)))
    assert stream.isStreaming
    jobs.run_to_memory(stream, "dedup_stream")
    got = [r for r in spark.table("dedup_stream").collect()]
    got_hashes = sorted(r.text_hash for r in got)

    from pyspark.sql import functions as F

    batch = (
        spark.read.parquet(str(d))
        .withColumn("text_hash", F.sha2(F.col("html"), 256))
        .dropDuplicates(["text_hash"])
    )
    want_hashes = sorted(r.text_hash for r in batch.collect())
    assert got_hashes == want_hashes
    assert len(got) == 3            # one row per distinct content

    # unbounded-state variant behaves identically on this input
    stream2 = jobs.exact_dedup_stream(
        jobs.read_documents_stream(spark, str(d)), watermark=None
    )
    jobs.run_to_memory(stream2, "dedup_stream2")
    assert sorted(
        r.text_hash for r in spark.table("dedup_stream2").collect()
    ) == want_hashes
