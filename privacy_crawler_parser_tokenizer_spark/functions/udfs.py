"""Vectorized pandas/Arrow UDF kernels.

Each of the engine's two dataflows crosses into Python once per row,
through one Arrow-batched call that runs its ``core`` kernels back to
back (the UDF-fusion argument of *Accelerating Python UDFs in
Vectorized Query Execution*, CIDR 2022):

  * parse/tokenize: ``extract_doc_udf`` -- HTML -> spans with their
    in-document context, the parse gate, and each p/h span's sentences;
  * crawl: ``make_process_batch_fn`` -- the page kernel the fetch
    ``mapInPandas`` runs on each fetched batch: strip, candidate links,
    verify, and the seen pre-filter's verdict for every href.

Everything else in the engine is native Spark SQL.  Each kernel is a
``core`` function, so executor behavior is bit-identical to the
sequential oracle.

The page kernel is a *factory* over broadcast variables (ground-truth
token counts, dictionary set and the round's Bloom are broadcast once,
fixing the reference's per-task re-pickling:
src/verification/verify.py:254 pickles the ground truth with every
task; verify.py:27 reloads the dictionary per call).
"""

from __future__ import annotations

import sys

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.english import is_english
from ..core.links import strip_and_candidate_hrefs
from ..core.sentencize import sent_tokenize
from ..core.spans import (
    compare_parsed_text,
    extract_doc,
    extract_spans,
    span_context,
)
from ..core.tfidf import tfidf_cosine_counts, tokenize_counts

# deep HTML trees: the reference raises the recursion limit for its
# recursive walk (src/crawler.py:332); our walk recurses too.
_RECURSION_LIMIT = 1_000_000

RESIDUAL_TOLERANCE = 5  # reference: src/parser-tokenizer.py:306

# a span (core.spans.Span), its in-document context
# (core.spans.span_context) and its sentences
SPAN_CTX_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
        StructField("tag_index", IntegerType()),
        StructField("tag", StringType()),
        StructField("prec_by", StringType()),
        StructField("proc_by", StringType()),
        StructField("sentences", ArrayType(StringType())),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("spans", ArrayType(SPAN_CTX_STRUCT)),
        StructField("stripped_text", StringType()),
        StructField("residual_count", IntegerType()),
        StructField("parse_ok", BooleanType()),
    ]
)


def _bump_recursion_limit():
    if sys.getrecursionlimit() < _RECURSION_LIMIT:
        sys.setrecursionlimit(_RECURSION_LIMIT)


# -- parse/tokenize: HTML -> spans + gate + sentences ----------------------


@F.pandas_udf(EXTRACT_SCHEMA)
def extract_doc_udf(html: pd.Series, auto_text: pd.Series) -> pd.DataFrame:
    """Full per-doc extraction: spans with their tag/neighbor context,
    stripped text, the parse self-check's residual count and the parse
    gate (reference: src/parser-tokenizer.py:170-188,210-219,304-317).
    A document passes the gate when its html and stripped text are
    non-empty and at most RESIDUAL_TOLERANCE residual sentences remain;
    each p/h span of a passing document carries ``sent_tokenize`` of its
    text, every other span ``[]``.  ``auto_text`` may be null -> derived
    via the same single parse as the spans."""
    _bump_recursion_limit()
    spans_out, text_out, residual_out, ok_out = [], [], [], []
    for h, t in zip(html, auto_text):
        h = h or ""
        if isinstance(t, str) and t != "":
            spans = extract_spans(h)
            stripped = t
        else:
            spans, stripped = extract_doc(h)  # single parse
        residual = len(compare_parsed_text(spans, stripped)) if stripped else 0
        ok = bool(h) and bool(stripped) and residual <= RESIDUAL_TOLERANCE
        spans_out.append([
            s.as_tuple() + c + (
                sent_tokenize(s.text)
                if ok and s.kind in ("p", "h") and s.text else [],
            )
            for s, c in zip(spans, span_context(spans))
        ])
        text_out.append(stripped)
        residual_out.append(residual)
        ok_out.append(ok)
    return pd.DataFrame({"spans": spans_out, "stripped_text": text_out,
                         "residual_count": residual_out, "parse_ok": ok_out})


# Declared nondeterministic only to pin ONE call per row: for a
# deterministic UDF, Catalyst pushes the filter it infers from the span
# explode (size(spans) > 0) and the parse-gate filter through the
# projection, inlining the UDF into the filter -- without the pin the
# sentence_pipeline plan shows two ArrowEvalPython nodes, with it one.
extract_doc_udf = extract_doc_udf.asNondeterministic()


# -- crawl: the fetch stage's page kernel ----------------------------------


def _process_rows(html, is_landing, expand_ok, gt, words) -> pd.DataFrame:
    """The frontier's page kernel: strip + conditional link extraction
    + conditional verify, with the same short-circuits as the oracle
    (shared ``core`` functions)."""
    out_contents, out_hrefs, out_sim = [], [], []
    for h, landing, dok in zip(html, is_landing, expand_ok):
        h = h or ""
        contents, raw_hrefs = strip_and_candidate_hrefs(
            h, want_links=bool(landing or dok)
        ) if h else ("", [])
        hrefs = raw_hrefs if contents != "" else []
        if not landing and contents:
            sim = (
                tfidf_cosine_counts(gt, tokenize_counts(contents))
                if is_english(words, contents)
                else 0.0
            )
        else:
            sim = 0.0
        out_contents.append(contents)
        out_hrefs.append(hrefs)
        out_sim.append(sim)
    return pd.DataFrame(
        {"contents": out_contents, "hrefs": out_hrefs, "sim_raw": out_sim}
    )


def _bloom_verdicts(bloom, hrefs) -> pd.Series:
    """``bloom.might_contain`` for every href of a batch, in ONE
    vectorized call over the flattened lists, split back per row
    (a row without hrefs gets ``[]``)."""
    flat = pd.Series([h for row in hrefs for h in row], dtype="object")
    verdict = bloom.might_contain(flat).tolist()
    out, i = [], 0
    for row in hrefs:
        out.append(verdict[i:i + len(row)])
        i += len(row)
    return pd.Series(out, dtype="object")


def make_process_batch_fn(bc_gt_counts, bc_dictionary, max_depth: int,
                          bc_bloom):
    """Pandas-batch page kernel for the fused fetch stage
    (PythonFetcher.fetch_process): the fetch mapInPandas calls this on
    the batch it just fetched, so the crawl pays ONE JVM<->Python round
    trip per row.  Reads is_landing / expand_ok from the batch's
    ``phase`` / ``depth_count`` columns, and emits ``might`` aligned
    with ``hrefs``: the round's broadcast seen pre-filter's verdict
    (``bc_bloom``, an operators.bloom.ShardedBloom handle)."""

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        _bump_recursion_limit()
        res = _process_rows(
            pdf["html"],
            [p == "landing" for p in pdf["phase"]],
            # null-safe like SQL's depth_count < max_depth (NULL
            # comparison -> false); a null depth arrives as None or NaN
            # depending on the Arrow column's nullability
            [bool(pd.notna(d)) and int(d) < max_depth for d in pdf["depth_count"]],
            bc_gt_counts.value,
            bc_dictionary.value,
        )
        pdf = pdf.copy()
        pdf["contents"] = res["contents"].values
        pdf["hrefs"] = res["hrefs"].values
        pdf["might"] = _bloom_verdicts(bc_bloom.value, res["hrefs"]).values
        pdf["sim_raw"] = res["sim_raw"].values
        return pdf

    return process


def broadcast_ground_truth(spark, ground_truth_text: str):
    """Broadcast the tokenized ground-truth counts once (fixes the
    reference's per-task pickling, verify.py:249-254)."""
    return spark.sparkContext.broadcast(tokenize_counts(ground_truth_text))


def broadcast_dictionary(spark, words: frozenset):
    return spark.sparkContext.broadcast(words)
