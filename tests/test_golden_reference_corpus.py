"""Golden regression over the reference repo's REAL ground-truth HTML
corpus (21 production privacy-policy pages, data/inputs/ground_truth_html/):
span extraction must stay byte-stable, and the Spark binaryFile->UDF
path must equal the sequential kernel exactly (the BASELINE span-
sequence-equality invariant on real-world HTML, not just fixtures)."""

import glob
import hashlib
import json
import os

import pytest

from privacy_crawler_parser_tokenizer_spark.core.spans import (
    compare_parsed_text,
    extract_spans,
    strip_text,
)

CORPUS = "/root/reference/data/inputs/ground_truth_html"
GOLDEN = os.path.join(os.path.dirname(__file__), "golden_reference_spans.json")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(CORPUS), reason="reference corpus not mounted"
)


def _span_sha(spans) -> str:
    h = hashlib.sha256()
    for s in spans:
        h.update(repr(s.as_tuple()).encode())
    return h.hexdigest()[:16]


def test_kernel_matches_golden_snapshot():
    golden = json.load(open(GOLDEN))
    files = sorted(glob.glob(os.path.join(CORPUS, "*")))
    assert len(files) == len(golden) == 21
    for f in files:
        html = open(f, "rb").read()
        spans = extract_spans(html)
        txt = strip_text(html)
        g = golden[os.path.basename(f)]
        assert len(spans) == g["n_spans"], f
        assert _span_sha(spans) == g["span_sha"], f
        assert len(txt) == g["strip_len"], f
        assert len(compare_parsed_text(spans, txt)) == g["residual"], f


def test_spark_binaryfile_path_equals_kernel(spark):
    """§2.1 HTML-bytes dir scan: spark.read.binaryFile -> extraction UDF
    == the sequential kernel, span for span, on real pages (extract_doc
    is bit-identical to extract_spans)."""
    from pyspark.sql import functions as F

    from privacy_crawler_parser_tokenizer_spark.functions.udfs import extract_doc_udf

    df = (
        spark.read.format("binaryFile")
        .load(CORPUS)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("doc_id"),
            F.col("content").cast("string").alias("html"),
        )
        .withColumn("spans", extract_doc_udf(
            F.col("html"), F.lit(None).cast("string")).spans)
    )
    got = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in df.collect()
    }
    for f in sorted(glob.glob(os.path.join(CORPUS, "*"))):
        raw = open(f, "rb").read()
        want = [s.as_tuple() for s in extract_spans(raw.decode("utf-8", "replace"))]
        assert got[os.path.basename(f)] == want, f


def test_frontier_over_real_alexa_top10k(spark, tmp_path):
    """The engine ingests the reference's actual Alexa Top-10K seed
    list (rank order preserved) and schedules all 10,000 domains in one
    round (every fetch fails -> every domain classifies failed_access,
    matching the reference's no-access path)."""
    from privacy_crawler_parser_tokenizer_spark.plans.frontier import (
        FrontierConfig,
        FrontierCrawler,
        PythonFetcher,
    )
    from privacy_crawler_parser_tokenizer_spark.sources.tables import load_seed_list

    seeds = load_seed_list("/root/reference/data/inputs/alexa.json")
    assert len(seeds) == 10_000 and seeds[0] == "google.com"

    fc = FrontierCrawler(
        spark, str(tmp_path / "wh"), fetcher=PythonFetcher(lambda u: ""),
        seeds=seeds, config=FrontierConfig(bloom_capacity=1 << 14),
    )
    run = fc.run()
    assert run.rounds == 1
    m = fc.metrics().collect()
    assert m[0].granted == 10_000 and m[0].active_domains == 10_000
    outcomes = fc.outcomes()
    assert outcomes.count() == 10_000
    assert outcomes.filter("outcome = 'failed_access'").count() == 10_000
    # seed order preserved end to end
    first = outcomes.orderBy("seed_rank").limit(3).collect()
    assert [r.domain for r in first] == ["google.com", "youtube.com", "amazon.com"]
