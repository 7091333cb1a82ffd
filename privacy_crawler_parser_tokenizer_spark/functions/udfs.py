"""Vectorized pandas/Arrow UDF families.

Exactly the five UDF families SURVEY.md §2.5 calls for — everything
else in the engine is native Spark SQL.  Each UDF wraps a ``core``
kernel so executor behavior is bit-identical to the sequential oracle.
All are Arrow-batched (one Python invocation per batch, loop inside) —
no per-row Python at the Spark boundary.

The TF-IDF and English-gate UDFs are *factories* taking broadcast
variables (ground-truth token counts / dictionary set are broadcast
once, fixing the reference's per-task re-pickling:
src/verification/verify.py:254 pickles the ground truth with every
task; verify.py:27 reloads the dictionary per call).
"""

from __future__ import annotations

import sys

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
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
    strip_text,
)
from ..core.tfidf import tfidf_cosine_counts, tokenize_counts

# deep HTML trees: the reference raises the recursion limit for its
# recursive walk (src/crawler.py:332); our walk recurses too.
_RECURSION_LIMIT = 1_000_000

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)
SPAN_SCHEMA = ArrayType(SPAN_STRUCT)

# a span plus its in-document context (core.spans.span_context)
SPAN_CTX_STRUCT = StructType(
    SPAN_STRUCT.fields
    + [
        StructField("tag_index", IntegerType()),
        StructField("tag", StringType()),
        StructField("prec_by", StringType()),
        StructField("proc_by", StringType()),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("spans", ArrayType(SPAN_CTX_STRUCT)),
        StructField("stripped_text", StringType()),
        StructField("residual_count", IntegerType()),
    ]
)


def _bump_recursion_limit():
    if sys.getrecursionlimit() < _RECURSION_LIMIT:
        sys.setrecursionlimit(_RECURSION_LIMIT)


# -- family 3: HTML -> spans (UDTF-shaped: array return + posexplode) ----


@F.pandas_udf(SPAN_SCHEMA)
def extract_spans_udf(html: pd.Series) -> pd.Series:
    """documents.html -> ordered span array (core.spans.extract_spans;
    reference walk: src/parser-tokenizer.py:108-168)."""
    _bump_recursion_limit()
    return html.map(
        lambda h: [s.as_tuple() for s in extract_spans(h)] if h else []
    )


@F.pandas_udf(EXTRACT_SCHEMA)
def extract_doc_udf(html: pd.Series, auto_text: pd.Series) -> pd.DataFrame:
    """Full per-doc extraction: spans with their tag/neighbor context +
    stripped text + parse-self-check residual count (reference:
    src/parser-tokenizer.py:170-188,210-217,304-317).  ``auto_text`` may
    be null -> derived via strip_text."""
    _bump_recursion_limit()
    spans_out, text_out, residual_out = [], [], []
    for h, t in zip(html, auto_text):
        h = h or ""
        if isinstance(t, str) and t != "":
            spans = extract_spans(h)
            stripped = t
        else:
            spans, stripped = extract_doc(h)  # single parse
        residual = len(compare_parsed_text(spans, stripped)) if stripped else 0
        spans_out.append(
            [s.as_tuple() + c for s, c in zip(spans, span_context(spans))]
        )
        text_out.append(stripped)
        residual_out.append(residual)
    return pd.DataFrame(
        {"spans": spans_out, "stripped_text": text_out, "residual_count": residual_out}
    )


@F.pandas_udf(StringType())
def strip_text_udf(html: pd.Series) -> pd.Series:
    """Visible text (reference: src/verification/verify.py:84-104)."""
    _bump_recursion_limit()
    return html.map(lambda h: strip_text(h) if h else "")


# -- family 4: sentence tokenization --------------------------------------


@F.pandas_udf(ArrayType(StringType()))
def sentences_udf(text: pd.Series) -> pd.Series:
    """Canonical sentence split (reference: parser-tokenizer.py:219)."""
    return text.map(lambda t: sent_tokenize(t) if t else [])


# Declared nondeterministic only to pin ONE call per row: for a
# deterministic UDF, Catalyst pushes the filter it infers from a later
# explode (size(result) > 0), and the parse gate, through the projection,
# inlining the UDF into the filter and running it twice per row.
extract_doc_udf = extract_doc_udf.asNondeterministic()
sentences_udf = sentences_udf.asNondeterministic()


# -- family 5: verification (factories over broadcasts) -------------------


def make_verify_udf(bc_gt_counts, bc_dictionary):
    """similarity = 0.0 unless English, else pair-fit TF-IDF cosine vs
    the broadcast ground-truth counts (reference: src/crawler.py:43-75)."""

    @F.pandas_udf(DoubleType())
    def verify_udf(text: pd.Series) -> pd.Series:
        gt = bc_gt_counts.value
        words = bc_dictionary.value

        def _one(t):
            if not t or not is_english(words, t):
                return 0.0
            return tfidf_cosine_counts(gt, tokenize_counts(t))

        return text.map(_one)

    return verify_udf


# -- family 2: link extraction, fused with strip + verify in the fetch stage


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


def make_process_batch_fn(bc_gt_counts, bc_dictionary, max_depth: int):
    """Pandas-batch page kernel for the fused fetch stage
    (PythonFetcher.fetch_process): the fetch mapInPandas calls this on
    the batch it just fetched, so the hottest stage pays ONE
    JVM<->Python round trip.  Reads is_landing / expand_ok from the
    batch's ``phase`` / ``depth_count`` columns."""

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
        pdf["sim_raw"] = res["sim_raw"].values
        return pdf

    return process


def broadcast_ground_truth(spark, ground_truth_text: str):
    """Broadcast the tokenized ground-truth counts once (fixes the
    reference's per-task pickling, verify.py:249-254)."""
    return spark.sparkContext.broadcast(tokenize_counts(ground_truth_text))


def broadcast_dictionary(spark, words: frozenset):
    return spark.sparkContext.broadcast(words)
