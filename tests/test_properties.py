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
