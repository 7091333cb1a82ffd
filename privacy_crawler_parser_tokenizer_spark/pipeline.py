"""Parse/tokenize pipeline (SURVEY.md §2.3, §3.2 rebuild), shared by
batch and streaming.

One linear DataFrame dataflow replacing the reference's per-file
process-pool (src/parser-tokenizer.py:339-397):

    documents(doc_id, html[, auto_text])
      -> extract_doc UDF (spans with tag/prec_by/proc_by context and
         sentences, stripped text, parse self-check, parse gate)
      -> explode(spans), parse_ok per span row  [spans table]
      -> filter parse_ok & kind in (p,h) -> posexplode(sentences)
      -> native rule expressions                [sentences table]
      -> explode(rule_hits) -> groupBy          [rule_counts tables]

One extraction per ``parse_tokenize`` call: its ``sentences`` frame is
lazily ``localCheckpoint``-ed, and ``rule_counts``/``corpus_hist`` are
derived from it (the reference counts rule hits in the loop that
tokenizes each sentence, :221-227, and sums them on the driver,
:391-394).  Whichever output is written first runs the extraction and
stores the sentence rows; the other reads those rows.  Spark's
ContextCleaner frees the stored blocks once the frame is unreachable.

Scale notes: the only Python is ONE Arrow-batched UDF, one call per
document: it parses the HTML once, computes each span's context with
the same ``core.spans`` kernel the oracle uses (O(n) per document),
evaluates the parse-success gate (residual > 5 -> drop, reference
:306) and sentence-splits the p/h spans of passing documents.  The
sentence table is therefore map-only: no window, no join, no second
Python crossing, one scan of the documents.  The aggregations are
partial-agg hash groupBys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.text import rule_hits_col, word_count_col
# RESIDUAL_TOLERANCE is re-exported: the gate lives in the extraction UDF
from .functions.udfs import RESIDUAL_TOLERANCE  # noqa: F401
from .functions.udfs import SPAN_CTX_STRUCT, extract_doc_udf

# fixed histogram bin edges (reference: src/statistics/sentences.py:207,215)
RULE_HIST_BINS = [0, 10, 20, 30, 40, 50, 60, 70, 80, 90, 100,
                  120, 140, 160, 180, 200, 250, 300, 350, 400]

# extract_documents columns that stay above the span explode
_EXTRACTION_ONLY = ("html", "auto_text", "spans", "stripped_text", "residual_count")
# spans_table columns that are not document pass-throughs
_SPAN_ROW = ("doc_id", "parse_ok", *SPAN_CTX_STRUCT.fieldNames())


def extract_documents(docs: DataFrame, auto_text: bool = True) -> DataFrame:
    """documents(doc_id, html[, auto_text]) -> + (spans, stripped_text,
    residual_count, parse_ok), all from the extraction UDF.  Empty docs
    are kept with parse_ok=false (reference skips them at :256-263;
    downstream filters do the same)."""
    at = F.col("auto_text") if auto_text and "auto_text" in docs.columns else F.lit(None).cast("string")
    ex = extract_doc_udf(F.col("html"), at)
    return docs.withColumn("_ex", ex).select("*", "_ex.*").drop("_ex")


def spans_table(extracted: DataFrame) -> DataFrame:
    """Explode spans: one row per span with its kernel-computed tag and
    neighbor context (core.spans.span_context) and sentences, both
    emitted by the extraction UDF, the document's ``parse_ok``, and every other
    document column (e.g. a stream's ``ts``).  The wide per-document
    columns (html, auto_text, stripped_text) are not carried through
    the explode."""
    keep = [c for c in extracted.columns if c not in _EXTRACTION_ONLY]
    return extracted.select(*keep, F.explode("spans").alias("s")).select(*keep, "s.*")


def sentences_table(spans: DataFrame) -> DataFrame:
    """p/h spans of parse_ok documents -> sentence rows (FIXTURES.md §7
    schema); failed docs are excluded from tokenization (reference:
    parser-tokenizer.py:304-317).  The sentences were split inside the
    extraction UDF, so this is a filter and a posexplode.  Extra
    document columns pass through after doc_id."""
    extra = [c for c in spans.columns if c not in _SPAN_ROW]
    df = spans.filter(F.col("parse_ok") & F.col("kind").isin("p", "h"))
    df = df.select(
        "doc_id",
        *extra,
        F.col("offset").alias("seq_index"),
        "tag",
        "prec_by",
        "proc_by",
        F.posexplode("sentences").alias("sent_idx", "sentence"),
    )
    return df.select(
        "doc_id",
        *extra,
        "seq_index",
        "tag",
        "prec_by",
        "proc_by",
        "sent_idx",
        F.col("sentence").alias("text"),
        word_count_col(F.col("sentence")).alias("n_words"),
        rule_hits_col(F.col("sentence")).alias("rule_hits"),
    )


def rule_counts_table(sentences: DataFrame) -> DataFrame:
    """Per-doc rule hit counts (reference: parser-tokenizer.py:221-227)."""
    return (
        sentences.select("doc_id", F.explode("rule_hits").alias("rule"))
        .groupBy("doc_id", "rule")
        .agg(F.count("*").alias("cnt"))
    )


def corpus_rule_histogram(rule_counts: DataFrame) -> DataFrame:
    """Bucket per-doc hit counts into the reference's fixed bins
    (sentences.py:207): (rule, bucket, n_docs)."""
    edges = ",".join(str(b) for b in RULE_HIST_BINS)
    # bucket = number of edges <= value (1-based, 0 = below first edge);
    # engine-portable replacement for variable-width width_bucket
    bucket = F.expr(
        f"size(filter(array({edges}), e -> e <= cnt))"
    ).alias("bucket")
    return (
        rule_counts.select("rule", bucket)
        .groupBy("rule", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def save_reference_outputs(tables: dict[str, DataFrame], out_dir: str) -> None:
    """The reference's CSV sinks (src/parser-tokenizer.py:71-106,229-234)
    re-expressed as partitioned CSV datasets: per-kind span rows and the
    sentence table, partitioned by doc_id (one directory per document ==
    the reference's one-CSV-per-document layout), plus the corpus rule
    histogram.  Headers on; arrays joined with '-' as the reference
    does for rule hits."""
    spans = tables["spans"].select(
        "doc_id", "kind", "tag", "offset", "prec_by", "proc_by", "text"
    )
    spans.write.mode("overwrite").option("header", True).partitionBy(
        "doc_id"
    ).csv(f"{out_dir}/spans_csv")

    sentences = tables["sentences"].select(
        "doc_id", "seq_index", "tag", "prec_by", "proc_by", "sent_idx",
        "text", "n_words", F.array_join("rule_hits", "-").alias("rules"),
    )
    sentences.write.mode("overwrite").option("header", True).partitionBy(
        "doc_id"
    ).csv(f"{out_dir}/sentences_csv")

    tables["corpus_hist"].write.mode("overwrite").option("header", True).csv(
        f"{out_dir}/rule_histogram_csv"
    )


def parse_tokenize(docs: DataFrame) -> dict[str, DataFrame]:
    """Full §3.2 pipeline; returns the named output tables.

    ``rule_counts`` and ``corpus_hist`` read the lazily checkpointed
    ``sentences`` (one extraction per call).  Building the dict starts
    no Spark job: the sentences plan is map-only, so AQE does not wrap
    it and the checkpoint only compiles it."""
    extracted = extract_documents(docs)
    spans = spans_table(extracted)
    sentences = sentences_table(spans).localCheckpoint(eager=False)
    rc = rule_counts_table(sentences)
    return {
        "extracted": extracted,
        "spans": spans,
        "sentences": sentences,
        "rule_counts": rc,
        "corpus_hist": corpus_rule_histogram(rc),
    }
