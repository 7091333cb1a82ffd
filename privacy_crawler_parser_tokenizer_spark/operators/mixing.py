"""Deterministic source-mixing sampler for training-data pipelines.

Pretraining corpora are assembled from heterogeneous sources at target
mixture weights (The Pile, Llama, DoReMi): an over-represented source
is down-sampled so every source contributes its target share of
TOKENS.  This module computes per-key sampling rates from the corpus
itself (one tiny aggregation) and applies them with a deterministic
per-doc hash, so the kept set is reproducible across runs, engines,
and partitionings — no ``rand()``.

Rate math is exact integer (parts-per-million): with uniform target
shares over k keys and T total tokens, a key holding K tokens keeps
``min(1e6, (T * 1e6) div (k * K))`` ppm of its docs.  Keys with zero
tokens keep everything (they cost nothing).

The per-doc hash is an engine-portable 31-bit multiplicative mix
(Knuth constants) over the non-negative integral doc_id — the same
arithmetic runs as native int64 expressions in Spark and in the DuckDB
oracle.  The id is reduced mod 2^31 before the first multiply, which
leaves every bucket unchanged (the mix is mod 2^31 anyway) and keeps
the product below (2^31 - 1) * H1 < 2^63, so no non-negative int64 id
overflows (a production pipeline would use xxhash64 Spark-side; the
portable mix exists so the sampled SET itself is oracle-checkable).

100-TB shape: one partial-aggregable groupBy produces the k-row rate
table, which broadcasts into a map-only filter over the corpus — no
shuffle touches the full data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PPM = 1_000_000
_M31 = 2_147_483_648  # 2^31
_H1 = 2_654_435_761  # Knuth multiplicative
_H2 = 2_246_822_519  # xxhash prime 2
_C2 = 3_266_489_917  # xxhash prime 3


def doc_hash_ppm(doc_id: Column) -> Column:
    """Deterministic ppm bucket in [0, 1e6) from a non-negative id.

    Pure int64 arithmetic (two multiplicative mixing rounds mod 2^31)
    so Spark and ANSI-SQL oracles compute bit-identical buckets.
    """
    h1 = ((doc_id % F.lit(_M31)) * F.lit(_H1)) % F.lit(_M31)
    h2 = (h1 * F.lit(_H2) + F.lit(_C2)) % F.lit(_M31)
    return (h2 % F.lit(PPM)).cast("long")


def doc_hash_ppm_sql(doc_id_expr: str) -> str:
    """The identical mix as an ANSI/DuckDB SQL expression string."""
    return (
        f"(((({doc_id_expr} % {_M31}) * {_H1}) % {_M31}) * {_H2} + {_C2})"
        f" % {_M31} % {PPM}"
    )


def mix_rates(doc_tokens: DataFrame, key: str) -> DataFrame:
    """Per-key sampling rates (ppm) for uniform target token shares.

    ``doc_tokens`` needs columns ``key`` and ``n_tok``.  Returns the
    tiny frame (key, rate_ppm) — broadcast it into the filter.

    The rate numerator is ``total_tokens * 1e6`` in int64: exact below
    ~9.2e12 total tokens (about 40 TB of text).  Beyond that, cast the
    token totals to decimal on both engines before trusting the ppm.
    """
    per_key = doc_tokens.groupBy(key).agg(F.sum("n_tok").alias("ktok"))
    # corpus totals via a window over the |keys|-row frame (single tiny
    # partition) — no second corpus scan for a separate global agg
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_key.select(
        key,
        "ktok",
        F.sum("ktok").over(w).alias("total"),
        F.count("*").over(w).alias("n_keys"),
    ).select(
        key,
        F.when(F.col("ktok") <= 0, F.lit(PPM))
        .otherwise(
            F.least(
                F.lit(PPM), F.expr(f"(total * {PPM}) div (n_keys * ktok)")
            )
        )
        .cast("long")
        .alias("rate_ppm"),
    )


def mix_sample(doc_tokens: DataFrame, key: str) -> DataFrame:
    """Down-sample docs so each key targets a uniform token share.

    ``doc_tokens`` needs (doc_id, key, n_tok).  Returns the kept docs
    as (doc_id, key, n_tok, rate_ppm) — deterministic for a given
    corpus, independent of partitioning and run order.
    """
    rates = mix_rates(doc_tokens, key).withColumnRenamed(key, "_mix_key")
    # null-safe join: groupBy puts NULL keys in their own group (they
    # count in total/n_keys), so the rate lookup must not drop them —
    # a plain equi-join would silently lose every NULL-key doc
    return (
        doc_tokens.join(
            F.broadcast(rates),
            F.col(key).eqNullSafe(F.col("_mix_key")),
        )
        .filter(doc_hash_ppm(F.col("doc_id")) < F.col("rate_ppm"))
        .select("doc_id", key, "n_tok", "rate_ppm")
    )
