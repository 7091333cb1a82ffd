"""Kernel semantics tests (no Spark) — pin the reference behaviors
(SURVEY.md §5 step 1/2: oracle = sequentialized reference semantics)."""

import math

from privacy_crawler_parser_tokenizer_spark.core import (
    META_LIST_PREFIX,
    apply_sentence_rules,
    canonicalize_url,
    clean_link,
    complete_link,
    compare_parsed_text,
    extract_candidate_hrefs,
    extract_spans,
    get_english_count,
    is_english,
    parse_robots,
    remove_nonletters,
    render_spans_html,
    robots_allows,
    sent_tokenize,
    strip_text,
    tag_indices,
    tfidf_cosine_pair,
    tokenize_counts,
)


class TestSpans:
    def test_basic_order_and_kinds(self):
        html = (
            "<body><h1>Title</h1><p>Para one.</p>"
            "<ul><li>a</li><li>b</li></ul>"
            '<img src="http://x/i.png"><p>Para two.</p></body>'
        )
        spans = [s.as_tuple() for s in extract_spans(html)]
        assert spans == [
            ("h", "Title\n", None, 0),
            ("p", "Para one.\n", None, 1),
            ("l", "a\nb\n", None, 2),
            ("media", None, "http://x/i.png", 3),
            ("p", "Para two.\n", None, 4),
        ]

    def test_media_mode_off_drops_img(self):
        html = '<p>x</p><img src="http://x/i.png">'
        spans = extract_spans(html, media=False)
        assert [s.kind for s in spans] == ["p"]

    def test_colon_rule_moves_last_sentence(self):
        # reference: src/parser-tokenizer.py:145-155
        html = "<p>Intro. We collect:</p><ul><li>cookies</li></ul>"
        spans = [s.as_tuple() for s in extract_spans(html)]
        assert spans[0][1] == "Intro. \n"
        assert spans[1][1] == "We collect:\ncookies\n"

    def test_colon_rule_empties_donor_to_meta(self):
        html = "<p>We collect:</p><ul><li>x</li></ul>"
        spans = extract_spans(html)
        assert spans[0].text == META_LIST_PREFIX
        assert spans[1].text == "We collect:\nx\n"

    def test_list_does_not_recurse(self):
        # nested list content is swallowed by the parent list span
        html = "<ul><li>a<ul><li>inner</li></ul></li></ul>"
        spans = extract_spans(html)
        assert [s.kind for s in spans] == ["l"]
        assert "inner" in spans[0].text

    def test_nested_p_double_emits(self):
        # reference recurses into emitted p (:168)
        html = "<p>outer <p>inner</p></p>"
        kinds = [s.kind for s in extract_spans(html)]
        # html.parser implied-close: second <p> closes the first, so two
        # sibling paragraphs — both emitted
        assert kinds == ["p", "p"]

    def test_bad_tags_removed(self):
        html = "<style>x{}</style><script>js</script><nav>n</nav><p>keep</p>"
        spans = extract_spans(html)
        assert len(spans) == 1 and spans[0].text == "keep\n"

    def test_tag_indices_per_kind(self):
        html = "<p>a</p><h2>b</h2><p>c</p><p>d</p>"
        assert tag_indices(extract_spans(html)) == [0, 0, 1, 2]

    def test_strip_text_joins_stripped_strings(self):
        html = "<p>  a  </p><div>b</div><script>no</script>"
        assert strip_text(html) == "a b"

    def test_compare_parsed_text_residual(self):
        html = "<p>First line.</p><div>Unparsed tail one. Tail two.</div>"
        spans = extract_spans(html)
        residual = compare_parsed_text(spans, strip_text(html))
        assert residual == ["Unparsed tail one.", "Tail two."]

    def test_render_roundtrip(self):
        from privacy_crawler_parser_tokenizer_spark.sources.synth import gen_span_docs

        for doc_id, spans in gen_span_docs(30, seed=7):
            html = render_spans_html(spans)
            got = [s.as_tuple() for s in extract_spans(html)]
            assert got == spans, doc_id


class TestSentencize:
    def test_split_and_abbrev(self):
        assert sent_tokenize("One. Two! Three?") == ["One.", "Two!", "Three?"]
        assert sent_tokenize("Dr. Smith arrived. He left.") == [
            "Dr. Smith arrived.",
            "He left.",
        ]

    def test_newlines_split(self):
        assert sent_tokenize("line one\nline two") == ["line one", "line two"]

    def test_closing_quotes_and_brackets(self):
        # punkt-informed: boundary punctuation may be followed by closers
        assert sent_tokenize('He said "Stop." Then he left.') == [
            'He said "Stop."', "Then he left."]
        assert sent_tokenize("See rule 4.) Next rule applies.") == [
            "See rule 4.)", "Next rule applies."]

    def test_ortho_lowercase_suppression(self):
        # a period never splits before a lowercase continuation
        assert sent_tokenize("applies to www.example.com only. see below. Yes.") == [
            "applies to www.example.com only. see below.", "Yes."]

    def test_dotted_abbreviations(self):
        assert sent_tokenize("We comply (e.g. GDPR). This applies.") == [
            "We comply (e.g. GDPR).", "This applies."]
        assert sent_tokenize("Open until 5 p.m. Mon through Fri.") == [
            "Open until 5 p.m. Mon through Fri."]

    def test_empty(self):
        assert sent_tokenize("") == []
        assert sent_tokenize("   ") == []


class TestRules:
    def test_good(self):
        assert apply_sentence_rules("This is a perfectly fine sentence.") == ["GOOD"]

    def test_short_and_caps(self):
        assert apply_sentence_rules("tiny words here") == [
            "SHORT", "START_CAP", "END_PUNC",
        ]

    def test_pre_noise(self):
        hits = apply_sentence_rules("1. Introduction to this privacy policy stuff.")
        assert "PRE_NOISE" in hits

    def test_head_frag(self):
        hits = apply_sentence_rules("Privacy Policy Data Collection Overview Page.")
        assert "HEAD_FRAG" in hits

    def test_meta(self):
        assert "META" in apply_sentence_rules(META_LIST_PREFIX)


class TestEnglish:
    DICT = frozenset(["THE", "DATA", "WE", "COLLECT", "AND"])

    def test_ratio(self):
        assert get_english_count(self.DICT, "we collect the data") == 1.0
        assert get_english_count(self.DICT, "xyzzy plugh") == 0.0

    def test_nonletters(self):
        assert remove_nonletters("a1b2-c3!") == "abc"

    def test_gate(self):
        assert is_english(self.DICT, "we collect the data and the data")
        assert not is_english(self.DICT, "1234567890 !!!! ####")


class TestTfidf:
    def test_identical_docs(self):
        assert abs(tfidf_cosine_pair("alpha beta gamma", "alpha beta gamma") - 1.0) < 1e-12

    def test_disjoint_docs(self):
        assert tfidf_cosine_pair("alpha beta", "gamma delta") == 0.0

    def test_sklearn_numerics(self):
        # hand-computed sklearn pair-fit: docs "aa bb", "aa cc"
        # shared 'aa' idf=1, unique idf=ln(1.5)+1
        iu = math.log(1.5) + 1.0
        expected = 1.0 / (math.hypot(1.0, iu) * math.hypot(1.0, iu))
        got = tfidf_cosine_pair("aa bb", "aa cc")
        assert abs(got - expected) < 1e-12

    def test_token_pattern_min_two_chars(self):
        # single-char tokens excluded by \b\w\w+\b
        assert tokenize_counts("a b cc") == {"cc": 1}


class TestUrls:
    def test_clean(self):
        assert clean_link("http://a/b#frag?x") == "http://a/b"

    def test_complete_reference_quirks(self):
        full = "http://site.com"
        assert complete_link(full, "http://other.com/p#f") == "http://other.com/p"
        assert complete_link(full, "page") == "http://site.com/page"
        assert complete_link(full, "//cdn.com/x") == "http://cdn.com/x"
        assert complete_link(full, "/p") == "http://site.com/p"

    def test_canonicalize(self):
        assert (
            canonicalize_url("HTTP://WWW.X.COM:80//A//B/?b=2&a=1#f")
            == "http://www.x.com/A/B?a=1&b=2"
        )


class TestLinks:
    def test_keyword_and_string_semantics(self):
        html = (
            '<a href="/privacy">Here</a>'          # kw in href
            '<a href="/about">Privacy note</a>'     # kw in text
            '<a href="/x"><b>privacy</b></a>'       # single nested string
            '<a href="/y"><b>p</b><i>q</i></a>'     # multi-child -> .string None
            '<a>privacy no href</a>'
        )
        assert extract_candidate_hrefs(html) == ["/privacy", "/about", "/x"]


class TestRobots:
    def test_longest_match(self):
        txt = "User-agent: *\nDisallow: /a\nAllow: /a/b\n"
        assert not robots_allows(txt, "/a/x")
        assert robots_allows(txt, "/a/b/c")
        assert robots_allows(txt, "/other")

    def test_utf8_bom_is_ignored(self):
        # a file saved with a leading BOM must keep its first group
        txt = "User-agent: *\nDisallow: /private\n"
        for content in (txt, "\ufeff" + txt):
            policy = parse_robots(content)
            assert policy.rules == [(False, "/private")]
            assert not policy.allows("/private/x")
            assert policy.allows("/public")


class TestSentencizeBlockBreaks:
    def test_newline_splits_override_suppressions(self):
        # block breaks split even where the mid-paragraph guards
        # (abbreviation / lowercase continuation) would suppress
        assert sent_tokenize(
            "First line ends here.\n\nsecond paragraph starts lowercase."
        ) == ["First line ends here.", "second paragraph starts lowercase."]
        assert sent_tokenize("We cover cookies etc.\nother topics below.") == [
            "We cover cookies etc.", "other topics below."]
