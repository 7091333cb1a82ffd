"""Sequence packing (operators/packing.py) + mixing sampler
(operators/mixing.py).

Semantics are checked against from-scratch Python references in this
file (independent of both the Spark plans and the DuckDB oracles), the
oracles run on the same hand corpora so engine parity covers the edges
the testdata may not exercise, and the plans are asserted to keep the
100-TB properties: the packing prefix sum never windows the full
corpus in one partition, and the mixing rate table broadcasts into a
map-only filter with partial aggregation on the token totals.
"""

from __future__ import annotations

import duckdb
import pytest

from privacy_crawler_parser_tokenizer_spark.operators.mixing import (
    PPM,
    doc_hash_ppm,
    mix_sample,
)
from privacy_crawler_parser_tokenizer_spark.operators.packing import pack_segments
from privacy_crawler_parser_tokenizer_spark.plans.introspect import (
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregation,
)
from privacy_crawler_parser_tokenizer_spark.queries import (
    _PACK_L,
    _mix_sql,
    q_mix_sample,
    q_pack_sequences,
)


# ---------------------------------------------------------------------------
# independent references
# ---------------------------------------------------------------------------

def pack_reference(
    doc_tokens: list[tuple[int, int]], seq_len: int
) -> set[tuple[int, int, int, int]]:
    """(chunk_id, doc_id, seg_offset, seg_tokens) by direct simulation:
    walk docs in order, emit token runs into consecutive chunks."""
    out = set()
    pos = 0  # global token cursor
    for doc_id, n_tok in sorted(doc_tokens):
        remaining = n_tok
        while remaining > 0:
            chunk = pos // seq_len
            room = (chunk + 1) * seq_len - pos
            take = min(room, remaining)
            out.add((chunk, doc_id, pos - chunk * seq_len, take))
            pos += take
            remaining -= take
    return out


def hash_ppm_reference(doc_id: int) -> int:
    h1 = (doc_id * 2654435761) % 2**31
    h2 = (h1 * 2246822519 + 3266489917) % 2**31
    return h2 % PPM


def mix_reference(
    docs: list[tuple[int, str, int]]
) -> set[tuple[int, str, int, int]]:
    """(doc_id, key, n_tok, rate_ppm) kept set by direct computation."""
    ktok: dict[str, int] = {}
    for _, k, n in docs:
        ktok[k] = ktok.get(k, 0) + n
    total, n_keys = sum(ktok.values()), len(ktok)
    rates = {
        k: PPM if v <= 0 else min(PPM, (total * PPM) // (n_keys * v))
        for k, v in ktok.items()
    }
    return {
        (d, k, n, rates[k])
        for d, k, n in docs
        if hash_ppm_reference(d) < rates[k]
    }


# ---------------------------------------------------------------------------
# packing
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def pack_corpus():
    # 7-token chunks: doc 0 fills chunk 0 exactly, doc 1 spans three
    # chunks, docs 2-4 pack together, doc 7 starts exactly on a
    # boundary after doc 5; ids are sparse to cross prefix-sum buckets
    # when bucket_width is small.
    return [(0, 7), (1, 16), (2, 2), (3, 1), (4, 3), (5, 6), (7, 7)]


def test_pack_reference_anchors(pack_corpus):
    ref = pack_reference(pack_corpus, 7)
    assert (0, 0, 0, 7) in ref  # exact fill
    assert {(1, 1, 0, 7), (2, 1, 0, 7), (3, 1, 0, 2)} <= ref  # 16-token span
    assert {(3, 2, 2, 2), (3, 3, 4, 1), (3, 4, 5, 2)} <= ref  # packed chunk
    # cursor after doc 5 is 35 = 5*7 (29 + 6), so doc 7 boundary-starts
    # and exactly fills chunk 5
    assert (4, 5, 1, 6) in ref and (5, 7, 0, 7) in ref
    assert sum(t for _, _, _, t in ref) == sum(n for _, n in pack_corpus)


@pytest.mark.parametrize("bucket_width", [1, 2, 4096])
def test_pack_segments_matches_reference(spark, pack_corpus, bucket_width):
    df = spark.createDataFrame(pack_corpus, "doc_id long, n_tok long")
    got = {
        (r.chunk_id, r.doc_id, r.seg_offset, r.seg_tokens)
        for r in pack_segments(df, 7, bucket_width=bucket_width).collect()
    }
    assert got == pack_reference(pack_corpus, 7)


def test_pack_oracle_matches_reference_on_edges(spark, pack_corpus):
    # the oracle operates on documents(text); synthesize texts whose
    # word counts equal the corpus, plus empty/NULL docs that must
    # occupy no chunk on either engine
    texts = [(d, " ".join(f"t{d}_{i}" for i in range(n))) for d, n in pack_corpus]
    texts += [(6, ""), (8, None)]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", texts)
    from privacy_crawler_parser_tokenizer_spark.queries import _pack_sql

    got = {tuple(r) for r in con.execute(_pack_sql(7)).fetchall()}
    assert got == pack_reference(pack_corpus, 7)

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(texts, "doc_id long, text string").write.parquet(
            os.path.join(td, "documents.parquet")
        )
        import privacy_crawler_parser_tokenizer_spark.queries as q

        orig = q._PACK_L
        try:
            q._PACK_L = 7  # q_pack_sequences reads the module global
            spark_got = {
                (r.chunk_id, r.doc_id, r.seg_offset, r.seg_tokens)
                for r in q_pack_sequences(spark, td).collect()
            }
        finally:
            q._PACK_L = orig
    assert spark_got == pack_reference(pack_corpus, 7)


def test_pack_rejects_bad_params(spark):
    df = spark.createDataFrame([(0, 1)], "doc_id long, n_tok long")
    with pytest.raises(ValueError):
        pack_segments(df, 0)
    with pytest.raises(ValueError):
        pack_segments(df, 8, bucket_width=0)


def test_pack_drops_zero_token_rows(spark):
    """A zero-token row must not poison the segment map: sequence()
    with start > stop runs DESCENDING, so an unguarded n_tok=0 doc on
    a chunk boundary would emit garbage segments."""
    rows = [(0, 7), (1, 0), (2, 3)]  # doc 1 sits exactly on the boundary
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {
        (r.chunk_id, r.doc_id, r.seg_offset, r.seg_tokens)
        for r in pack_segments(df, 7).collect()
    }
    assert got == pack_reference([(0, 7), (2, 3)], 7)
    assert all(t > 0 for _, _, _, t in got)


def test_pack_plan_no_global_doc_window(spark):
    """The only unpartitioned window may run over the tiny per-bucket
    subtotal frame; the doc-frame cumsum must be partitioned by bucket,
    and the bucket offsets must broadcast back (no shuffle join)."""
    p = formatted_plan(q_pack_sequences(spark, "/root/testdata/sf0.001"))
    assert has_broadcast_join(p), p
    assert has_partial_aggregation(p), p
    import re

    # every window partitioned by something EXCEPT the bucket-subtotal
    # cumsum: an unpartitioned Window spec prints as
    # "windowspecdefinition(<order>, ...)" with no partition columns
    # before the ordering spec; the partitioned one prints
    # "windowspecdefinition(bucket#N, doc_id#M ASC ..." — assert the
    # doc-side window keys on bucket.
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, p
    doc_windows = [s for s in specs if "doc_id" in s.split("ASC")[0]]
    assert doc_windows and all("bucket" in s for s in doc_windows), specs


# ---------------------------------------------------------------------------
# mixing
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def mix_corpus():
    # 'big' holds ~8x the tokens of each minority key -> downsampled;
    # 'tiny' and 'mid' cap at PPM; 'zero' has only zero-token docs
    # (rate PPM by the zero-cost rule); the NULL key is its own group
    # and must survive the rate join (null-safe), not silently vanish.
    docs = [(i, "big", 40) for i in range(40)]
    docs += [(100 + i, "mid", 20) for i in range(10)]
    docs += [(200 + i, "tiny", 5) for i in range(8)]
    docs += [(300, "zero", 0), (301, "zero", 0)]
    docs += [(400 + i, None, 10) for i in range(4)]
    return docs


def test_mix_reference_anchors(mix_corpus):
    kept = mix_reference(mix_corpus)
    rates = {k: r for _, k, _, r in kept}
    assert rates["mid"] == PPM and rates["tiny"] == PPM
    assert rates["zero"] == PPM
    assert rates[None] == PPM  # NULL group: minority, capped, KEPT
    assert 0 < rates["big"] < PPM  # genuinely downsampled
    # every mid/tiny/zero/NULL doc survives (rate == PPM admits all)
    assert sum(1 for _, k, _, _ in kept if k != "big") == 24
    assert 0 < sum(1 for _, k, _, _ in kept if k == "big") < 40


def test_mix_sample_matches_reference(spark, mix_corpus):
    df = spark.createDataFrame(mix_corpus, "doc_id long, lang string, n_tok long")
    got = {
        (r.doc_id, r.lang, r.n_tok, r.rate_ppm)
        for r in mix_sample(df, "lang").collect()
    }
    assert got == mix_reference(mix_corpus)


def test_mix_oracle_matches_reference_on_edges(spark, mix_corpus):
    """BOTH engines on the text-level corpus: NULL text counts 0
    tokens (like ''), NULL lang is its own surviving group."""
    texts = [
        (d, k, None if d == 300 else " ".join(f"t{d}_{i}" for i in range(n)))
        for d, k, n in mix_corpus
    ]  # doc 300: NULL text must count 0 tokens, like doc 301's ''
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", texts)
    got = {tuple(r) for r in con.execute(_mix_sql()).fetchall()}
    assert got == mix_reference(mix_corpus)

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            texts, "doc_id long, lang string, text string"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        spark_got = {
            (r.doc_id, r.lang, r.n_tok, r.rate_ppm)
            for r in q_mix_sample(spark, td).collect()
        }
    assert spark_got == mix_reference(mix_corpus)


def test_hash_ppm_engine_parity(spark):
    """Spark column mix == DuckDB SQL mix == Python reference on ids
    spanning the non-negative int64 range (2^34 and 2^40 overflowed the
    unreduced ``doc_id * H1`` under ANSI arithmetic)."""
    from pyspark.sql import functions as F

    from privacy_crawler_parser_tokenizer_spark.operators.mixing import (
        doc_hash_ppm_sql,
    )

    ids = [0, 1, 2, 999, 12345, 10**6, 2**31 - 1, 3_400_000_000, 2**34, 2**40]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    spark_h = {
        r.doc_id: r.h
        for r in df.select("doc_id", doc_hash_ppm(F.col("doc_id")).alias("h")).collect()
    }
    con = duckdb.connect()
    duck_h = {
        i: con.execute(f"SELECT {doc_hash_ppm_sql(str(i))}").fetchone()[0]
        for i in ids
    }
    ref = {i: hash_ppm_reference(i) for i in ids}
    assert spark_h == ref and duck_h == ref
    # and the buckets actually spread (not all in one ppm decile)
    assert len({v // 100_000 for v in ref.values()}) >= 4


def test_mix_plan_broadcast_rates_and_partial_agg(spark):
    p = formatted_plan(q_mix_sample(spark, "/root/testdata/sf0.001"))
    assert has_broadcast_join(p), p
    assert has_partial_aggregation(p), p
    # map-only corpus side: the only exchanges feed the tiny rate
    # table (the per-key groupBy + its single-tiny-partition totals
    # window), never repartition docs.  Formatted plans print each
    # node twice (tree + detail), so 2 physical exchanges count as 4.
    from privacy_crawler_parser_tokenizer_spark.plans.introspect import n_exchanges

    assert n_exchanges(p) <= 4, p
