"""Physical-plan regression tests: pushdown, pruning, broadcast,
partial aggregation, shuffle budgets — the properties that make the
same code survive a 100x scale-up (SURVEY.md §4)."""

import pytest

from privacy_crawler_parser_tokenizer_spark.plans.introspect import (
    codegen_stage_count,
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregation,
    n_exchanges,
    pushed_filters,
    read_schemas,
)
from privacy_crawler_parser_tokenizer_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan(spark, name):
    return formatted_plan(QUERIES[name](spark, SF))


def test_filter_pushdown_reaches_parquet(spark):
    # the ground-truth range (docs 0-2) must reach the scan itself;
    # IsNotNull(doc_id) alone would not prune a row group
    p = plan(spark, "verify_scores")
    pushed = " ".join(pushed_filters(p))
    assert "LessThan(doc_id,3)" in pushed, p


def test_column_pruning(spark):
    # a 2-column projection must not scan the whole documents table
    p = plan(spark, "word_counts")
    (schema,) = read_schemas(p)
    assert "text" in schema and "lang" not in schema and "source" not in schema


def test_small_dims_broadcast(spark):
    # the ground-truth vocabulary (docs 0-2) is a small dimension, not
    # a corpus — the per-document term counts must join it broadcast,
    # never shuffle themselves to meet it
    p = plan(spark, "verify_scores")
    assert has_broadcast_join(p)
    assert "BroadcastHashJoin LeftOuter BuildRight" in p, p


def test_partial_aggregation(spark):
    assert has_partial_aggregation(plan(spark, "lang_freq"))
    assert has_partial_aggregation(plan(spark, "char_histogram"))


def test_whole_stage_codegen_active(spark):
    # AQE's pre-execution plan hides codegen annotations; check the
    # statically planned query
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(spark, "lang_freq")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert codegen_stage_count(p) >= 1, p


def test_shuffle_budgets(spark):
    # scans + narrow ops must not shuffle at all
    assert n_exchanges(plan(spark, "rule_hits")) == 0
    assert n_exchanges(plan(spark, "word_counts")) == 0
    assert n_exchanges(plan(spark, "url_canonicalize")) == 0
    # one groupBy = one shuffle (plus AQE read)
    assert n_exchanges(plan(spark, "lang_freq")) <= 2
    # the whole extract->context->tokenize->rules pipeline is map-only:
    # context comes from the extraction UDF, the parse gate is a column
    assert n_exchanges(plan(spark, "sentence_pipeline")) == 0


def test_sentence_pipeline_one_scan_no_join(spark):
    """The parse gate is a column filter, not a join against a second
    extraction: one documents scan and ONE Python crossing -- the
    extraction UDF emits the sentences too."""
    import re

    p = plan(spark, "sentence_pipeline")
    assert "Join" not in p, p
    scans = re.findall(r"\(\d+\) Scan parquet", p)
    assert len(scans) == 1 and "documents.parquet" in p, p
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1, p


def _mixed_span_html(n: int) -> str:
    """One document of ``n`` p/h/list spans (some lists take a colon
    donation from the paragraph before them)."""
    parts = []
    for i in range(n):
        if i % 3 == 0:
            parts.append(f"<p>Paragraph {i} reads:</p>" if i % 7 == 0
                         else f"<p>Paragraph {i}.</p>")
        elif i % 3 == 1:
            parts.append(f"<h2>Heading {i}</h2>")
        else:
            parts.append(f"<ul><li>item {i}</li><li>more {i}</li></ul>")
    return "<html><body>" + "".join(parts) + "</body></html>"


def test_spans_table_matches_kernels(spark):
    """spans_table == core.spans.extract_doc + span_context + the
    parse gate + sent_tokenize of the p/h spans of passing documents,
    row for row, with zero shuffles."""
    from collections import Counter

    from privacy_crawler_parser_tokenizer_spark.core.sentencize import sent_tokenize
    from privacy_crawler_parser_tokenizer_spark.core.spans import (
        compare_parsed_text,
        extract_doc,
        span_context,
    )
    from privacy_crawler_parser_tokenizer_spark.pipeline import (
        RESIDUAL_TOLERANCE,
        extract_documents,
        spans_table,
    )

    html = {
        "d1": "<html><body><h1>T</h1><p>a.</p><ul><li>x</li></ul>"
              "<p>b!</p><img src='m.png'></body></html>",
        "d2": "<html><body><p>only one</p></body></html>",
        "big": _mixed_span_html(2000),
        # 7 residual sentences outside any span: fails the parse gate
        "gate": "<html><body><h1>Title</h1><p>Kept para. Two.</p><div>One. "
                "Two. Three. Four. Five. Six. Seven.</div></body></html>",
    }
    docs = spark.createDataFrame(sorted(html.items()), "doc_id string, html string")
    ex = extract_documents(docs, auto_text=False)
    cols = ["doc_id", "kind", "text", "media_ref", "offset", "tag_index",
            "tag", "prec_by", "proc_by", "parse_ok", "sentences"]
    got = Counter(
        tuple(r[:-1]) + (tuple(r.sentences),)
        for r in spans_table(ex).select(cols).collect()
    )

    want = Counter()
    for doc_id, h in html.items():
        spans, stripped = extract_doc(h)
        ok = bool(stripped) and len(compare_parsed_text(spans, stripped)) <= RESIDUAL_TOLERANCE
        for s, ctx in zip(spans, span_context(spans)):
            sents = sent_tokenize(s.text) if ok and s.kind in ("p", "h") else []
            want[(doc_id, *s.as_tuple(), *ctx, ok, tuple(sents))] += 1
    assert got == want
    assert sum(1 for k in got if k[0] == "big") == 2000
    assert {k[-2] for k in got if k[0] == "gate"} == {False}
    assert not any(k[-1] for k in got if k[0] == "gate")
    assert any(k[-1] for k in got if k[0] == "d1")

    # the kernel itself: per-kind tags, -1 wraparound, 'None' past the end
    spans, _ = extract_doc(html["d1"])
    assert [c[1:] for c in span_context(spans)] == [
        ("h0", "media0", "p0"), ("p0", "h0", "l0"), ("l0", "p0", "p1"),
        ("p1", "l0", "media0"), ("media0", "p1", "None"),
    ]
    assert n_exchanges(formatted_plan(spans_table(ex))) == 0


_GATED_DOCS = [
    ("d1", "<html><body><h1>Privacy Policy</h1><p>We collect data. "
           "We share it with partners.</p><ul><li>cookies</li></ul>"
           "<p>Contact us!</p></body></html>"),
    ("d2", "<html><body><p>Short one.</p></body></html>"),
    # fails the parse gate: 7 sentences of div text no span covers (> 5)
    ("gate", "<html><body><div>One here. Two here. Three here. Four here. "
             "Five here. Six here. Seven here.</div><p>Kept sentence.</p>"
             "</body></html>"),
]


@pytest.fixture
def gated_docs(spark, tmp_path):
    """The documents as a parquet scan (the schema read runs here)."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(_GATED_DOCS, "doc_id string, html string") \
        .coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_parse_tokenize_extracts_once(spark, gated_docs):
    """parse_tokenize checkpoints its sentences lazily and derives the
    rule counts from them: building it starts no Spark job, and the
    rule_counts / corpus_hist plans hold neither the extraction UDF nor
    a documents scan."""
    from privacy_crawler_parser_tokenizer_spark.pipeline import parse_tokenize

    sc = spark.sparkContext
    group = "parse-tokenize-build"
    sc.setJobGroup(group, "build parse_tokenize")
    try:
        out = parse_tokenize(gated_docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for name in ("rule_counts", "corpus_hist"):
        p = formatted_plan(out[name])
        assert "ArrowEvalPython" not in p and "Scan parquet" not in p, p


def test_parse_tokenize_matches_uncheckpointed_dataflow(spark, gated_docs):
    """The checkpointed sentences and the histogram derived from them
    equal the uncheckpointed dataflow's rows, the gate-failing document
    included, when corpus_hist is materialized first."""
    from privacy_crawler_parser_tokenizer_spark.pipeline import (
        corpus_rule_histogram,
        extract_documents,
        parse_tokenize,
        rule_counts_table,
        sentences_table,
        spans_table,
    )

    def rows(df):
        return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r)
                      for r in df.collect())

    out = parse_tokenize(gated_docs)
    hist = rows(out["corpus_hist"])
    sentences = rows(out["sentences"])

    want = sentences_table(spans_table(extract_documents(gated_docs)))
    assert sentences == rows(want)
    assert hist == rows(corpus_rule_histogram(rule_counts_table(want)))
    assert {r[0] for r in sentences} == {"d1", "d2"}


def test_fetch_exchange_is_not_coalesced(spark):
    """AQE coalesces a small-in-bytes exchange by bytes; the salted fetch
    exchange carries an explicit count, one per task slot, so a 2,000-URL
    wave keeps every partition (a count-less repartition(key) ran it in
    one), and a one-URL tail round plans one task."""
    from pyspark.sql import functions as F

    from privacy_crawler_parser_tokenizer_spark.plans.frontier import (
        _fetch_partitions,
        _salt_by_host,
    )

    n_slots = spark.sparkContext.defaultParallelism
    reqs = spark.createDataFrame(
        [(f"http://h{i}.example/",) for i in range(2000)], "url string"
    )
    parts = (
        _salt_by_host(reqs, 1, _fetch_partitions(spark, 2000))
        .groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    assert len(parts) == n_slots, parts
    assert min(r["count"] for r in parts) > 0.8 * 2000 / n_slots, parts
    assert _fetch_partitions(spark, 1) == 1


def test_verify_scores_matches_kernel(spark):
    """The relational closed-form TF-IDF cosine == the Python kernel
    (which replicates sklearn pair-fit numerics) on ASCII docs."""
    import math

    from privacy_crawler_parser_tokenizer_spark.core.tfidf import tfidf_cosine_pair

    docs = {r.doc_id: r.text for r in spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text").collect()}
    gt = " ".join(docs[i] for i in sorted(docs) if i < 3)
    got = {r.doc_id: r.sim for r in QUERIES["verify_scores"](spark, SF).collect()}
    checked = 0
    for doc_id, text in sorted(docs.items()):
        if not text.isascii():
            continue  # Python \w is unicode; engine \w is ASCII
        want = tfidf_cosine_pair(gt, text)
        assert math.isclose(got[doc_id], want, abs_tol=5e-7), (doc_id, got[doc_id], want)
        checked += 1
        if checked >= 50:
            break
    assert checked >= 20


def test_fetch_stage_salts_by_host_hash(spark):
    """The fetch repartition key must be the RAW salted per-URL
    host-hash (north rule + tools/bench_hostskew.py): hash(host,
    round, url) in the exchange, with NO pmod pre-bucketing (pre-pmod
    re-hashes P small ints into P buckets — balls-in-bins clumps) and
    the url column present in the key (host-only keys put a hot host
    in one partition: measured straggler ratio 6.1-6.3 vs 1.05)."""
    from privacy_crawler_parser_tokenizer_spark.plans.frontier import _salt_by_host

    reqs = spark.createDataFrame([("http://a.com",)], "url string")
    plan = formatted_plan(_salt_by_host(reqs, 7, 4))
    spec = [ln for ln in plan.splitlines() if "hashpartitioning(hash(" in ln]
    assert spec, plan
    assert "pmod" not in spec[0], spec[0]
    # raw url column rides the key next to the round salt: ", 7, url#"
    assert ", 7, url#" in spec[0], spec[0]


def test_english_gate_no_recompute_above_generate(spark):
    """The gate's per-doc scalars (token count, char ratio) must be
    attributes BELOW the explode: a Generate whose input carries the
    full document text re-evaluates size(ws)/regexp(text) once per
    exploded word (the r3 4-5x regression, commit 30ebf7d)."""
    from privacy_crawler_parser_tokenizer_spark.plans.introspect import (
        generate_inputs,
    )

    p = plan(spark, "english_gate")
    gens = generate_inputs(p)
    assert gens, p
    for g in gens:
        assert "text#" not in g, (g, p)


@pytest.mark.parametrize(
    "qname",
    [
        "verify_scores",
        "sentence_pipeline",
    ],
)
def test_no_wide_passthrough_above_generate(spark, qname):
    """Generalized r3-regression sweep: a wide column (full text) may
    feed a Generate's generator expression (evaluated once per input
    row) but must never ride through a Generate unreferenced — that is
    the signature of per-exploded-row recompute or row-width blowup."""
    import re

    p = plan(spark, qname)
    lines = p.splitlines()
    wide = re.compile(r"(?:text|html|content|body)#\d+")
    for i, line in enumerate(lines):
        if re.search(r"\(\d+\) Generate\b", line):
            inp = args = ""
            for j in range(i + 1, min(i + 5, len(lines))):
                if lines[j].startswith("Input"):
                    inp = lines[j]
                if lines[j].startswith("Arguments"):
                    args = lines[j]
            passthru = [c for c in set(wide.findall(inp)) if c not in args]
            assert not passthru, (qname, passthru, inp, args)


def test_exact_dedup_groupby_winners_shape(spark):
    """exact_dedup must shuffle the sha2 key, never the raw document
    text, and use the partial-aggregable winners shape, not a window
    sort over PARTITION BY text."""
    from privacy_crawler_parser_tokenizer_spark.plans.introspect import n_windows

    p = plan(spark, "exact_dedup")
    assert has_partial_aggregation(p), p
    assert n_windows(p) == 0, p
    assert "hashpartitioning(text" not in p, p


def test_frontier_links_chain_plan_shape(spark, tmp_path):
    """The frontier's admission dedupe (winner-per-href) and in-page
    dedupe (first occurrence per completed link) must be partial-
    aggregable groupBys — map-side combine collapses a viral href
    before the exchange instead of funneling every occurrence into one
    skewed Window sort partition.  The only Window left in the links
    chain is the per-seed append positioner (inherently ordered).  The
    Bloom verdict rides the fetch kernel's ``might`` column, so the
    admission plan runs no Python."""
    import re

    from privacy_crawler_parser_tokenizer_spark.plans.frontier import (
        FrontierConfig,
        FrontierCrawler,
        PythonFetcher,
    )
    from privacy_crawler_parser_tokenizer_spark.plans.introspect import n_windows
    from privacy_crawler_parser_tokenizer_spark.sources.synth import (
        make_dictionary,
        make_ground_truth,
    )

    landing = '<a href="/privacy">privacy</a><p>welcome</p>'
    pages = {"http://a.com": landing, "http://a.com/privacy": "<p>policy</p>"}
    fc = FrontierCrawler(
        spark,
        str(tmp_path / "wh"),
        fetcher=PythonFetcher(pages.get),
        seeds=["a.com"],
        ground_truth=make_ground_truth(),
        dictionary=make_dictionary(),
        config=FrontierConfig(
            threshold=0.3, bloom_capacity=1 << 12, host_budget=2
        ),
    )
    plans = {}
    fc.plan_probe = lambda name, df: plans.setdefault(name, formatted_plan(df))
    fc.run()
    cand3, links_delta = plans["cand3"], plans["links_delta"]
    assert has_partial_aggregation(cand3), cand3
    assert n_windows(cand3) == 0, cand3
    assert not re.search(r"EvalPython|InPandas|PythonUDF", cand3, re.I), cand3
    assert has_partial_aggregation(links_delta), links_delta
    assert n_windows(links_delta) == 1, links_delta
    # content first-writer dedupe: groupBy winners + join, no window
    visits = plans["visits"]
    assert has_partial_aggregation(visits), visits
    assert n_windows(visits) == 0, visits
    # politeness dequeue: the row_number <= budget filter must become a
    # WindowGroupLimit pair (partial map-side + final) — a hot host's
    # million due URLs ship as `budget` rows per map task, not a full
    # sort partition
    from privacy_crawler_parser_tokenizer_spark.plans.introspect import (
        n_window_group_limits,
    )

    assert n_window_group_limits(plans["granted"]) >= 2, plans["granted"]


def test_frontier_round_broadcasts_robots_and_state(spark, tmp_path):
    """The round's two dimension joins never shuffle: the robots gate
    over injected rules is a BroadcastHashJoin on host that adds no
    Exchange, and the domain_state rewrite joins its per-due-domain
    update side through two BroadcastHashJoins, no SortMergeJoin."""
    import re

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

    pages, seeds, robots = gen_web(n_domains=6, seed=7)
    assert robots
    fc = FrontierCrawler(
        spark,
        str(tmp_path / "wh"),
        fetcher=PythonFetcher(pages.get),
        seeds=seeds,
        ground_truth=make_ground_truth(),
        dictionary=make_dictionary(),
        robots=robots,
        config=FrontierConfig(threshold=0.3, bloom_capacity=1 << 12,
                              host_budget=3, max_rounds=3),
    )
    plans = {}
    fc.plan_probe = (
        lambda name, df: plans.setdefault(name, []).append(formatted_plan(df))
    )
    fc.run()
    assert len(plans["requests"]) == 3 and len(plans["domain_state"]) == 3
    for rnd, p in enumerate(plans["requests"]):
        assert re.search(
            r"\(\d+\) BroadcastHashJoin\s+Left keys \[1\]: \[host#", p
        ), p
        assert "hashpartitioning(host" not in p, p
        if rnd > 0:  # once links exist, the link lookup broadcasts too
            assert n_exchanges(p) == 0, p
    for p in plans["domain_state"]:
        assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 2, p
        assert "SortMergeJoin" not in p, p


def test_salt_host_concurrency_caps_spread(spark):
    # a budget-less wave spreads one hot host's URLs wave-wide: the
    # per-URL salt (the skew-defusal key) puts them in more than 2 of 16
    # partitions.  Same-host concurrency is bounded by host_budget only.
    from pyspark.sql import functions as F

    from privacy_crawler_parser_tokenizer_spark.plans.frontier import (
        _salt_by_host,
    )

    reqs = spark.createDataFrame(
        [(f"http://hot.example/p{i}",) for i in range(64)]
        + [(f"http://cold{i}.example/",) for i in range(16)],
        "url string",
    )
    spread = (
        _salt_by_host(reqs, 3, 16)
        .withColumn("p", F.spark_partition_id())
        .where(F.col("url").startswith("http://hot."))
        .select("p").distinct().count()
    )
    assert spread > 2, spread
