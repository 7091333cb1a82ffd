"""Native (JVM-side, codegen-friendly) column expressions.

Everything here compiles into whole-stage codegen — no Python in the
hot path.  These are the Spark-first re-expressions of the reference's
per-sentence / per-link Python loops (SURVEY.md §2.3, §2.5): quality
rules as ``rlike``/higher-order-function expressions, URL completion
and canonicalization as string expressions, link junk filters as plain
predicates.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..core.rules import META_PATTERN, PRE_NOISE_PATTERN

# ---------------------------------------------------------------------------
# words & sentence-quality rules (reference: src/statistics/sentences.py)
# ---------------------------------------------------------------------------


def words_col(text: Column) -> Column:
    """Whitespace-split words; empty/blank text -> empty array
    (Python ``"".split() == []`` semantics, sentences.py:58)."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def word_count_col(text: Column) -> Column:
    """reference: src/parser-tokenizer.py:225 ``len(sentence.split())``"""
    return F.size(words_col(text))


def rule_short_col(text: Column, threshold: int = 5) -> Column:
    """reference: sentences.py:49-59"""
    return word_count_col(text) < F.lit(threshold)


def rule_start_cap_col(text: Column) -> Column:
    """Hit when sentence does NOT start with [A-Z] (flag False,
    sentences.py:105-107, rules.json START_CAP)."""
    return ~text.rlike(r"^[A-Z]")


def rule_pre_noise_col(text: Column) -> Column:
    """Numbered-heading prefix (rules.json PRE_NOISE; pattern is
    ^-anchored so rlike == re.match)."""
    return text.rlike(PRE_NOISE_PATTERN)


def rule_end_punc_col(text: Column) -> Column:
    """Hit when NO '!?.' appears anywhere (re.match of ``.*[!?.]``
    succeeds iff one of !?. occurs; flag False inverts)."""
    return ~text.rlike(r"[!?.]")


def rule_head_frag_col(text: Column, threshold: float = 0.6) -> Column:
    """Fraction of words containing an uppercase char > threshold
    (sentences.py:61-79; 0 words -> False)."""
    w = words_col(text)
    ncaps = F.size(F.filter(w, lambda x: x.rlike(r"\p{Lu}")))
    return F.when(F.size(w) == 0, F.lit(False)).otherwise(
        (ncaps / F.size(w)) > F.lit(threshold)
    )


def rule_meta_col(text: Column) -> Column:
    """META marker at sentence start (re.match semantics)."""
    return text.rlike("^" + META_PATTERN)


def rule_hits_col(text: Column) -> Column:
    """Ordered array of rule hits; ``["GOOD"]`` when none
    (reference: sentences.py:81-111).  Pure native expression."""
    hits = F.filter(
        F.array(
            F.when(rule_short_col(text), F.lit("SHORT")),
            F.when(rule_start_cap_col(text), F.lit("START_CAP")),
            F.when(rule_pre_noise_col(text), F.lit("PRE_NOISE")),
            F.when(rule_end_punc_col(text), F.lit("END_PUNC")),
            F.when(rule_head_frag_col(text), F.lit("HEAD_FRAG")),
            F.when(rule_meta_col(text), F.lit("META")),
        ),
        lambda x: x.isNotNull(),
    )
    return F.when(F.size(hits) == 0, F.array(F.lit("GOOD"))).otherwise(hits)


# ---------------------------------------------------------------------------
# URL handling (reference: src/crawler.py:77-136) — fully native
# ---------------------------------------------------------------------------


def clean_link_col(url: Column) -> Column:
    """Fragment strip, query kept (crawler.py:86-87)."""
    return F.split(url, "#", 2).getItem(0)


def complete_link_col(full_url: Column, href: Column) -> Column:
    """Resolve href against the page URL with the reference's quirks
    (crawler.py:123-136), then fragment-strip."""
    completed = (
        F.when(href.contains("http"), href)
        .when(~href.startswith("/"), F.concat(full_url, F.lit("/"), href))
        .when(href.startswith("//"), F.concat(F.lit("http:"), href))
        .otherwise(F.concat(full_url, href))
    )
    return clean_link_col(completed)


def is_junk_href_col(href: Column) -> Column:
    """reference: crawler.py:117-120"""
    low = F.lower(href)
    return (
        low.contains("javascript") | (F.length(href) < 3) | low.contains("mailto:")
    )


def ensure_scheme_col(domain: Column) -> Column:
    """reference: crawler.py:154"""
    return F.when(domain.contains("http"), domain).otherwise(
        F.concat(F.lit("http://"), domain)
    )


def host_of_col(url: Column) -> Column:
    """Lowercased authority of a URL (native regexp) — mirrors
    core.urls.host_of: a URL with a scheme takes its authority, even
    an empty one (``http:///a`` -> ''); a scheme-less one takes the text
    up to the first '/' or '?'."""
    scheme = r"^[A-Za-z][A-Za-z0-9+.\-]*://"
    with_scheme = F.regexp_extract(url, scheme + "([^/?#]*)", 1)
    bare = F.split(F.split(url, "/", 2).getItem(0), r"\?", 2).getItem(0)
    return F.lower(F.when(url.rlike(scheme), with_scheme).otherwise(bare))


def canonicalize_url_col(url: Column) -> Column:
    """Production canonical form, native (north-rule: scheme/host
    lowercase, fragment strip, query-param sort; plus default-port drop,
    path '//' collapse, trailing-slash strip — mirrors
    core.urls.canonicalize_url)."""
    no_frag = clean_link_col(url)
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.\-]*://(.*)$", 1)
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    host = F.when(
        ((scheme == "http") & hostport.endswith(":80"))
        | ((scheme == "https") & hostport.endswith(":443")),
        F.regexp_replace(hostport, r":\d+$", ""),
    ).otherwise(hostport)
    pathq = F.regexp_extract(rest, r"^[^/?]*(.*)$", 1)
    path = F.split(pathq, r"\?", 2).getItem(0)
    path = F.regexp_replace(path, "/{2,}", "/")
    path = F.when(F.length(path) > 1, F.regexp_replace(path, "/$", "")).otherwise(path)
    query = F.when(
        pathq.contains("?"), F.split(pathq, r"\?", 2).getItem(1)
    ).otherwise(F.lit(""))
    sorted_query = F.concat_ws(
        "&", F.array_sort(F.filter(F.split(query, "&"), lambda p: p != ""))
    )
    base = F.concat(scheme, F.lit("://"), host, path)
    return F.when(scheme == "", no_frag).otherwise(
        F.when(sorted_query != "", F.concat(base, F.lit("?"), sorted_query)).otherwise(base)
    )
