"""Property-based tests (hypothesis) over the pure kernels: invariants
that must hold for arbitrary inputs, not just fixtures."""

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from privacy_crawler_parser_tokenizer_spark.core.rules import (
    apply_sentence_rules as apply_rules,
)
from privacy_crawler_parser_tokenizer_spark.core.spans import (
    extract_spans,
    render_spans_html,
    strip_text,
)
from privacy_crawler_parser_tokenizer_spark.core.urls import (
    canonicalize_url,
    clean_link,
    complete_link,
)
from privacy_crawler_parser_tokenizer_spark.operators.bloom import BloomFilter

url_text = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00\r\n"),
    max_size=80,
)


@settings(max_examples=200, deadline=None)
@given(url_text)
def test_canonicalize_idempotent(u):
    c = canonicalize_url(u)
    assert canonicalize_url(c) == c
    assert "#" not in c or "#" not in u.split("#", 1)[0]  # no fragment survives


@settings(max_examples=200, deadline=None)
@given(url_text, url_text)
def test_complete_link_strips_fragment(full_url, href):
    out = complete_link(full_url, href)
    assert "#" not in out
    assert clean_link(out) == out  # idempotent cleaning


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=300))
def test_rules_good_iff_no_hits(sentence):
    hits = apply_rules(sentence)
    assert hits, "rule list never empty"
    assert ("GOOD" in hits) == (len(hits) == 1 and hits[0] == "GOOD")


@settings(max_examples=50, deadline=None)
@given(st.text(max_size=500))
def test_strip_text_never_raises(html):
    out = strip_text(html)
    assert isinstance(out, str)
    spans = extract_spans(html)
    assert all(s.offset == i for i, s in enumerate(spans))  # dense offsets


span_text = st.text(
    alphabet=st.characters(codec="ascii", min_codepoint=32, max_codepoint=126),
    min_size=1,
    max_size=40,
).map(lambda s: s.strip()).filter(
    lambda s: s and not s.endswith(":")  # colon rule mutates the donor
)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["p", "h", "l", "media"]), span_text),
        min_size=1,
        max_size=8,
    )
)
def test_spans_render_roundtrip(parts):
    spans = []
    for i, (kind, text) in enumerate(parts):
        if kind == "media":
            spans.append(("media", None, f"http://m/{i}.png", i))
        elif kind == "l":
            spans.append(("l", text + "\n", None, i))
        else:
            spans.append((kind, text + "\n", None, i))
    got = [s.as_tuple() for s in extract_spans(render_spans_html(spans))]
    assert got == spans


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=30), min_size=1, max_size=200))
def test_bloom_no_false_negatives(values):
    b = BloomFilter(capacity=max(len(values), 16))
    s = pd.Series(values, dtype="object")
    b.add(s)
    assert b.might_contain(s).all()


# --- BPE kernel properties --------------------------------------------------

word_text = st.text(
    alphabet=st.characters(codec="ascii", min_codepoint=33, max_codepoint=126),
    min_size=1, max_size=12,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(word_text, min_size=0, max_size=30))
def test_bpe_encode_is_lossless(words):
    """For any corpus and any merge budget, encoding a word and
    concatenating its tokens reproduces the original symbols exactly."""
    from privacy_crawler_parser_tokenizer_spark.core.bpe import (
        encode_word, to_symbols, train_bpe, word_freqs,
    )

    corpus = [" ".join(words)]
    merges = train_bpe(word_freqs(corpus), 12)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in set(w.lower() for w in words):
        toks = encode_word(w, ranks)
        assert "".join(toks) == "".join(to_symbols(w))
        assert all(t for t in toks)          # never an empty token


@settings(max_examples=100, deadline=None)
@given(st.dictionaries(word_text, st.integers(1, 50), max_size=20),
       st.integers(0, 10))
def test_bpe_trainer_deterministic(freqdict, n):
    """Same frequency table -> same merge list, independent of dict
    insertion order (the (count DESC, pair ASC) argmax contract)."""
    from collections import Counter

    from privacy_crawler_parser_tokenizer_spark.core.bpe import train_bpe

    a = train_bpe(Counter(freqdict), n)
    b = train_bpe(Counter(dict(reversed(list(freqdict.items())))), n)
    assert a == b


# --- sentence tokenizer properties ------------------------------------------

sent_text = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
    max_size=200,
)


@settings(max_examples=300, deadline=None)
@given(sent_text)
def test_sentencize_preserves_nonspace_text(t):
    """Splitting never invents or loses non-whitespace characters."""
    from privacy_crawler_parser_tokenizer_spark.core.sentencize import sent_tokenize

    import re

    squash = lambda x: re.sub(r"\s+", "", x)   # the tokenizer's own \s
    assert squash("".join(sent_tokenize(t))) == squash(t)


@settings(max_examples=300, deadline=None)
@given(sent_text)
def test_sentencize_output_trimmed_nonempty(t):
    from privacy_crawler_parser_tokenizer_spark.core.sentencize import sent_tokenize

    for s in sent_tokenize(t):
        assert s == s.strip() and s


# --- connected components: distributed == union-find canon -------------------

@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)),
                max_size=60),
       st.integers(41, 60))
def test_components_match_union_find(spark, raw_edges, n_vertices):
    """Min-label propagation over ANY random graph equals the
    sequential union-find canon, vertex for vertex (incl. singletons,
    self-loops and duplicate edges).  Chains (path graphs) exercise
    multi-round convergence."""
    from privacy_crawler_parser_tokenizer_spark.operators.components import (
        components_seq,
        connected_components,
    )

    vertices = list(range(n_vertices))
    edges = [(a, b) for a, b in raw_edges if a != b]
    want = components_seq(edges, vertices)

    edges_df = spark.createDataFrame(edges or [(0, 0)], "a int, b int")
    if not edges:
        edges_df = edges_df.filter("a <> a")
    verts_df = spark.createDataFrame([(v,) for v in vertices], "v int")
    got = {
        r.v: r.rep
        for r in connected_components(edges_df, verts_df).collect()
    }
    assert got == want


# --- near-dup threshold margin: cross-engine membership stability ------------

def test_neardup_threshold_margin():
    """_neardup_pairs_gemm vs the DuckDB list_cosine_similarity oracle
    can only fork on a pair whose true cosine sits within float
    summation error (~1e-15 relative) of the 0.3 threshold.  Assert
    every in-bucket pair of every gate dataset keeps >=1e-7 of margin
    (measured: 3.2e-4 / 1.9e-4 / 8.6e-6 at sf0.001/0.01/0.1) so a
    future dataset that lands on the boundary fails HERE, loudly,
    before it flips a board hash."""
    import collections
    import os

    import duckdb
    import numpy as np

    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        if not os.path.exists(path):
            continue
        rows = duckdb.sql(
            f"SELECT vec_id, label, embedding FROM '{path}'"
        ).fetchall()
        by_label = collections.defaultdict(list)
        for _vid, lab, emb in rows:
            by_label[lab].append(np.asarray(emb, dtype=np.float64))
        margin = 1.0
        for vecs in by_label.values():
            if len(vecs) < 2:
                continue
            m = np.array(vecs)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            iu = np.triu_indices(len(vecs), 1)
            margin = min(margin, np.abs((m @ m.T)[iu] - 0.3).min())
        assert margin >= 1e-7, f"{sf}: pair within {margin} of 0.3 boundary"
        checked += 1
    assert checked, "no testdata embeddings tables found"


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)),
                max_size=60),
       st.integers(41, 60))
def test_components_star_matches_union_find(spark, raw_edges, n_vertices):
    """The large-star/small-star variant equals the union-find canon on
    ANY random graph — same contract as the propagate default."""
    from privacy_crawler_parser_tokenizer_spark.operators.components import (
        components_seq,
        connected_components,
    )

    vertices = list(range(n_vertices))
    edges = [(a, b) for a, b in raw_edges if a != b]
    want = components_seq(edges, vertices)

    edges_df = spark.createDataFrame(edges or [(0, 0)], "a int, b int")
    if not edges:
        edges_df = edges_df.filter("a <> a")
    verts_df = spark.createDataFrame([(v,) for v in vertices], "v int")
    got = {
        r.v: r.rep
        for r in connected_components(
            edges_df, verts_df, algorithm="star"
        ).collect()
    }
    assert got == want


def test_components_star_handles_high_diameter_in_log_rounds(spark):
    """A 256-vertex path (diameter 255) would need 255 propagation
    rounds — far past max_iters=40.  Star contraction collapses it in
    O(log d) rounds and the finishing propagation needs only a
    handful; plain propagate mode raises instead of silently
    mislabeling (the documented guard)."""
    import pytest as _pytest

    from privacy_crawler_parser_tokenizer_spark.operators.components import (
        connected_components,
    )

    n = 256
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a int, b int"
    )
    verts = spark.createDataFrame([(v,) for v in range(n)], "v int")

    stats = {}
    labels = {
        r.v: r.rep
        for r in connected_components(
            edges, verts, max_iters=40, algorithm="star", stats=stats
        ).collect()
    }
    assert labels == {v: 0 for v in range(n)}
    assert stats["star_rounds"] <= 16          # O(log 255), not O(255)
    assert stats["propagate_rounds"] <= 5      # contracted graph is flat

    with _pytest.raises(RuntimeError, match="star"):
        connected_components(edges, verts, max_iters=40,
                             algorithm="propagate").collect()


def test_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches per-round truncation to reliable
    checkpoints (executor-loss-safe on clusters): same answer, and the
    checkpoint files actually land under the given directory."""
    import os

    from privacy_crawler_parser_tokenizer_spark.operators.components import (
        connected_components,
    )

    ckpt = str(tmp_path / "cc-ckpt")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "a int, b int"
    )
    verts = spark.createDataFrame([(v,) for v in range(8)], "v int")
    got = {
        r.v: r.rep
        for r in connected_components(
            edges, verts, checkpoint_dir=ckpt, algorithm="star"
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}
    found = [
        f for _root, _dirs, files in os.walk(ckpt) for f in files
    ]
    assert found, "no reliable checkpoint files written"
