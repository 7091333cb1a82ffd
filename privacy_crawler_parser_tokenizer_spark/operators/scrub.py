"""Training-corpus scrubbing operators: PII redaction and exact-substring
dedup.

PII redaction is a chain of native ``regexp_replace`` expressions —
JVM-side, whole-stage-codegen, shuffle-free, RE2-compatible patterns
(no lookaround) so the same regexes run in DuckDB for the test oracle.
Pattern order matters and is fixed: wider numeric shapes (credit card)
before narrower ones (phone) so substrings of an already-redacted span
can't re-match.

Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
Makes Language Models Better") finds the word runs of length >= k that
occur earlier in the corpus, reports them per document and cuts them
out.  The ``pii_scrub`` and ``exact_substring_dedup`` board entries in
queries.py run these and check them against DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingle_slots_of_words, words_col

# ---------------------------------------------------------------- PII ----

# (label, pattern, replacement) — applied strictly in order
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("cc", r"\b\d{4}[ \-]\d{4}[ \-]\d{4}[ \-]\d{4}\b", "<CC>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    # three explicit forms (paren area code / +intl prefix / bare)
    # because \b never matches before the non-word chars '(' and '+'
    ("phone",
     r"\(\d{3}\)[ .\-]\d{3}[ .\-]\d{4}\b"
     r"|\+\d{1,2}[ .\-]\d{3}[ .\-]\d{3}[ .\-]\d{4}\b"
     r"|\b\d{3}[ .\-]\d{3}[ .\-]\d{4}\b",
     "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def pii_redact_col(text: Column) -> Column:
    """Redacted copy of ``text``: every PII_PATTERNS family replaced by
    its placeholder, in order."""
    out = text
    for _label, pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def pii_counts_col(text: Column) -> Column:
    """Struct of per-family match counts (counted on the progressively
    redacted text, mirroring the replacement order so families never
    double-count each other's spans)."""
    fields = []
    cur = text
    for label, pattern, repl in PII_PATTERNS:
        fields.append(F.regexp_count(cur, F.lit(pattern)).alias(label))
        cur = F.regexp_replace(cur, pattern, repl)
    return F.struct(*fields)


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``redacted`` (scrubbed text) and ``pii`` (per-family count
    struct) columns.  Map-only: no shuffle, no Python."""
    return df.withColumn("redacted", pii_redact_col(F.col(text_col))).withColumn(
        "pii", pii_counts_col(F.col(text_col))
    )


# ------------------------------------------------- exact-substring ----


def _esub_toks(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Words materialized as an attribute BELOW the gram Generate (the
    english_gate lesson: an inline text expression in a generator is
    re-evaluated per slice reference; an attribute is computed once)."""
    return docs.select(
        F.col(id_col).alias("_id"),
        words_col(F.lower(F.col(text_col))).alias("_ws"),
    )


def _esub_report(toks: DataFrame, k: int, *, with_words: bool = False) -> DataFrame:
    """Per-doc duplicated-span report (_id, n_tokens, dup_tokens,
    n_spans, spans) for the exact-substring dedup family (Lee et al.
    2022): a k-word run whose gram also occurs at an earlier global
    (doc, pos) is duplicated; per doc, overlapping/adjacent duplicated
    windows merge into maximal spans.

    Shape at 100 TB: gram identities are int64 xxhash64 over the
    ``shingle_slots_of_words`` zipped word slots (never materializes
    gram strings; 2^-64/pair collision odds); the global
    first-occurrence winner is ONE partial-aggregable groupBy
    (min(struct(_id, pos)) — map-side combine collapses viral
    boilerplate before the exchange); grams occurring once are dropped
    inside that aggregation, so the probe join's build side shrinks to
    the duplicated-gram set; the span merge is a per-doc
    gaps-and-islands window, bounded by document length."""
    from pyspark.sql import Window

    n, z = shingle_slots_of_words(F.col("_ws"), k)
    ids = F.transform(z, lambda s: F.xxhash64(*[s[str(i)] for i in range(k)]))
    ids = F.when(n < F.lit(k), F.array().cast("array<bigint>")).otherwise(ids)
    grams = toks.select("_id", F.posexplode(ids).alias("pos", "g"))
    winners = grams.groupBy("g").agg(
        F.min(F.struct("_id", "pos")).alias("_w"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    dups = (
        grams.join(winners.filter(F.col("_cnt") > 1).drop("_cnt"), "g")
        .filter(
            (F.col("_id") != F.col("_w._id")) | (F.col("pos") != F.col("_w.pos"))
        )
        .select("_id", "pos")
    )
    ord_w = Window.partitionBy("_id").orderBy("pos")
    prev = ord_w.rowsBetween(Window.unboundedPreceding, -1)
    cum = ord_w.rowsBetween(Window.unboundedPreceding, 0)
    isl = dups.withColumn(
        "_pmax", F.max(F.col("pos") + F.lit(k - 1)).over(prev)
    ).withColumn(
        "_isl",
        F.sum(
            F.when(
                F.col("_pmax").isNull() | (F.col("pos") > F.col("_pmax") + 1), 1
            ).otherwise(0)
        ).over(cum),
    )
    spans = isl.groupBy("_id", "_isl").agg(
        F.min("pos").alias("_s"), F.max(F.col("pos") + F.lit(k - 1)).alias("_e")
    )
    per_doc = spans.groupBy("_id").agg(
        F.sum(F.col("_e") - F.col("_s") + 1).cast("long").alias("dup_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sort_array(
            F.collect_list(F.struct(F.col("_s").alias("s"), F.col("_e").alias("e")))
        ).alias("spans"),
    )
    base = toks.select(
        "_id",
        *(["_ws"] if with_words else []),
        F.size("_ws").cast("long").alias("n_tokens"),
    )
    return base.join(per_doc, "_id", "left").select(
        "_id",
        *(["_ws"] if with_words else []),
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce(
            "spans", F.array().cast("array<struct<s:int,e:int>>")
        ).alias("spans"),
    )


def exact_substring_spans(docs: DataFrame, *, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 15) -> DataFrame:
    """Exact-substring dedup REPORT: one row per input doc with
    (id, n_tokens, dup_tokens, n_spans, spans:array<struct<s,e>>).
    See :func:`_esub_report` for semantics and the 100-TB plan shape;
    the scalar columns are oracle-checked on the driver board
    (queries.q_exact_substring_dedup)."""
    return _esub_report(_esub_toks(docs, text_col, id_col), k).withColumnRenamed(
        "_id", id_col
    )


def exact_substring_cut(docs: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 15) -> DataFrame:
    """Exact-substring dedup TRANSFORM: the cutting pass — tokens
    inside duplicated spans are removed, survivors rejoin with single
    spaces.  Output (id, clean_text, n_tokens, dup_tokens, n_spans).
    Text is case/whitespace-normalized exactly like the gram identity
    (lowercase, whitespace-split), so a cut span can never straddle a
    token the report counted differently.  NULL text stays NULL
    (never conflated with a fully-deduplicated doc's '').  The words
    ride the report's own base frame (``with_words``), so the cut
    costs no scan beyond the report's two."""
    rep = _esub_report(_esub_toks(docs, text_col, id_col), k, with_words=True)
    kept = F.filter(
        F.col("_ws"),
        lambda w, i: ~F.exists(
            F.col("spans"), lambda sp: (i >= sp["s"]) & (i <= sp["e"])
        ),
    )
    return rep.select(
        F.col("_id").alias(id_col),
        F.when(F.col("_ws").isNotNull(), F.concat_ws(" ", kept)).alias("clean_text"),
        "n_tokens",
        "dup_tokens",
        "n_spans",
    )
