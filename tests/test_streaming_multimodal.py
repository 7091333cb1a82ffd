"""Streaming jobs: batch equivalence of the sentence, dedup, LSH and
sessionize streams, the crawl_log monitor, and the CSV sinks."""

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


def test_stateful_sessionize_matches_batch(spark):
    events = [
        (1, 100, "2026-01-01 10:00:00"),
        (1, 101, "2026-01-01 10:10:00"),
        (1, 102, "2026-01-01 11:30:00"),   # gap > 30min -> new session
        (2, 200, "2026-01-01 09:00:00"),
        (2, 201, "2026-01-01 09:20:00"),
    ]
    pdf = pd.DataFrame(events, columns=["user_id", "event_id", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    src = spark.createDataFrame(pdf)

    import tempfile

    d = tempfile.mkdtemp(prefix="pcpt-ev-")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp").parquet(d)
    )
    out = jobs.sessionize_stateful(stream)
    jobs.run_to_memory(out, "sessions")
    got = {
        (r.user_id, r.event_id, r.session_id)
        for r in spark.table("sessions").collect()
    }
    assert got == {
        (1, 100, 1), (1, 101, 1), (1, 102, 2), (2, 200, 1), (2, 201, 1),
    }


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


def test_streaming_lsh_candidates_match_batch(spark, tmp_path):
    """Online LSH near-dup candidates: the union of pairs emitted over
    the stream == the batch band-bucket pair set (each pair surfaces
    when its later member arrives)."""
    import pandas as pd

    from privacy_crawler_parser_tokenizer_spark.functions.text import (
        N_BANDS,
        minhash_col,
        shingles_col,
    )

    base = "we collect and share your personal data with trusted partners"
    rows = [
        ("1", base),
        ("2", base + " today"),                       # near-dup of 1
        ("3", "completely different text about cookies and beacons here"),
        ("4", base + " today"),                       # dup of 2 (and 1)
        ("5", "another unrelated sentence with distinct shingle content"),
    ]
    d = tmp_path / "lsh-docs"
    # ONE FILE PER DOC + maxFilesPerTrigger=1 => one microbatch per doc:
    # the bucket state must round-trip across batches for any pair to
    # surface (the "pair emitted when its LATER member arrives" path)
    for i, (doc_id, html) in enumerate(rows):
        spark.createDataFrame(
            [(doc_id, html,
              (pd.Timestamp("2026-01-01") + pd.Timedelta(minutes=i)).to_pydatetime())],
            jobs.DOCS_STREAM_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(str(d))

    stream = jobs.lsh_candidates_stream(
        jobs.read_documents_stream(spark, str(d), max_files=1)
    )
    assert stream.isStreaming
    jobs.run_to_memory(stream, "lsh_stream")
    got = {(r.a, r.b) for r in spark.table("lsh_stream").collect()}

    from pyspark.sql import functions as F

    docs = spark.read.parquet(str(d))
    sh = shingles_col(F.col("html")).alias("sh")
    bands = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), sh)
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         minhash_col(F.col("sh"), b).alias("mh"))
                for b in range(N_BANDS)
            ])).alias("x"),
        )
        .select("doc_id", "x.band", "x.mh")
    )
    x, y = bands.alias("x"), bands.alias("y")
    want = {
        (r.a, r.b)
        for r in x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.mh") == F.col("y.mh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
        .collect()
    }
    assert got == want
    assert (1, 2) in got and (2, 4) in got       # real near-dups surfaced


def _write_doc_files(spark, d, groups):
    """One parquet file per group => with max_files=1, one microbatch
    per group."""
    import pandas as pd

    i = 0
    for rows in groups:
        batch = [
            (doc_id, html,
             (pd.Timestamp("2026-01-01") + pd.Timedelta(minutes=i + j)).to_pydatetime())
            for j, (doc_id, html) in enumerate(rows)
        ]
        i += len(rows)
        spark.createDataFrame(batch, jobs.DOCS_STREAM_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(str(d))


def _poll_then_stop(q, pred, timeout_s=150):
    """Spark 4.1 quirk: availableNow + ProcessingTimeTimeout never
    terminates — the engine keeps scheduling empty micro-batches as
    long as the timeout conf is registered (verified: batchIds climb
    with numInputRows=0 after the source is exhausted, even with zero
    state rows left).  Finite test runs therefore poll for the expected
    condition and stop the query explicitly; production streams run
    continuous triggers and never terminate anyway."""
    import time

    t0 = time.monotonic()
    ok = False
    while time.monotonic() - t0 < timeout_s:
        try:
            if pred(q):
                ok = True
                break
        except Exception:
            pass
        time.sleep(1)
    q.stop()
    assert ok, "stream never reached the expected condition"


def test_streaming_lsh_ttl_within_window_matches_batch(spark, tmp_path):
    """With a TTL far longer than the run, the TTL variant is
    behaviourally identical to the exact mode: every cross-batch pair
    of the batch candidate set is emitted."""
    base = "we collect and share your personal data with trusted partners"
    d = tmp_path / "lsh-ttl-long"
    _write_doc_files(spark, d, [
        [("1", base)],
        [("2", base + " today")],
        [("3", base + " today")],
    ])
    stream = jobs.lsh_candidates_stream(
        jobs.read_documents_stream(spark, str(d), max_files=1), ttl="1 hour"
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory").queryName("lsh_ttl_long")
        .outputMode("append").trigger(availableNow=True).start()
    )
    want = {(1, 2), (1, 3), (2, 3)}

    def done(q):
        got = {(r.a, r.b) for r in spark.table("lsh_ttl_long").collect()}
        return want <= got

    _poll_then_stop(q, done)
    got = {(r.a, r.b) for r in spark.table("lsh_ttl_long").collect()}
    assert want <= got                   # cross-batch pairs intact


def test_streaming_lsh_ttl_evicts_stale_buckets(spark, tmp_path):
    """TTL=1ms: every bucket is evicted between micro-batches (batch
    gaps >> 1ms), so (a) a pair split across an idle gap is missed —
    the stated bounded-state trade, (b) within-batch pairs still
    surface, and (c) the state store drains to ZERO rows once all
    buckets idle out (bounded state, observed via stateOperators)."""
    base = "we collect and share your personal data with trusted partners"
    other = "completely different text about cookies and beacons here"
    d = tmp_path / "lsh-ttl-short"
    _write_doc_files(spark, d, [
        [("1", base), ("2", base + " today")],   # within-batch pair (1,2)
        [("3", other)],                          # unrelated batch; bucket
                                                 # of 1/2 idles past TTL
        [("4", base + " today")],                # near-dup of 1/2, too late
    ])
    stream = jobs.lsh_candidates_stream(
        jobs.read_documents_stream(spark, str(d), max_files=1),
        ttl="1 millisecond",
    )
    q = (
        stream.writeStream.format("memory").queryName("lsh_ttl_short")
        .outputMode("append").trigger(availableNow=True).start()
    )

    def drained(q):
        lp = q.lastProgress
        if not lp or not lp["stateOperators"]:
            return False
        # all 3 files consumed and every bucket evicted
        return lp["batchId"] >= 3 and lp["stateOperators"][0]["numRowsTotal"] == 0

    _poll_then_stop(q, drained)
    got = {(r.a, r.b) for r in spark.table("lsh_ttl_short").collect()}
    assert (1, 2) in got                      # same-batch pair: unaffected
    assert (1, 4) not in got and (2, 4) not in got  # evicted before 4 arrived
