"""Pure-Python kernels shared verbatim by the sequential oracle and the
Arrow-batched pandas UDFs — this module pins the engine's semantics
(SURVEY.md §7 step 1).  Nothing in here imports Spark."""

from .english import get_english_count, is_english, load_dictionary_text, remove_nonletters
from .htmldom import parse_html
from .links import PRIVACY_POLICY_KEYWORDS, admit_links, extract_candidate_hrefs, is_junk_href
from .oracle import CrawlOracle, OracleResult
from .robots import parse_robots, robots_allows, url_path
from .rules import (
    DEFAULT_RULES,
    META_LIST_PREFIX,
    RULE_NAMES,
    apply_sentence_rules,
    is_header_fragment,
    is_short,
)
from .sentencize import sent_tokenize
from .spans import (
    BAD_TAGS_MEDIA,
    BAD_TAGS_REFERENCE,
    Span,
    compare_parsed_text,
    extract_spans,
    remove_bad_tags,
    render_spans_html,
    span_context,
    strip_text,
    tag_indices,
)
from .tfidf import TOKEN_RE, tfidf_cosine_counts, tfidf_cosine_pair, tokenize_counts
from .urls import canonicalize_url, clean_link, complete_link, ensure_scheme, host_of

__all__ = [
    "CrawlOracle", "OracleResult", "Span",
    "parse_html", "extract_spans", "strip_text", "remove_bad_tags",
    "compare_parsed_text", "render_spans_html", "tag_indices", "span_context",
    "sent_tokenize", "apply_sentence_rules", "is_short", "is_header_fragment",
    "DEFAULT_RULES", "RULE_NAMES", "META_LIST_PREFIX",
    "is_english", "get_english_count", "remove_nonletters", "load_dictionary_text",
    "tfidf_cosine_pair", "tfidf_cosine_counts", "tokenize_counts", "TOKEN_RE",
    "clean_link", "complete_link", "canonicalize_url", "ensure_scheme", "host_of",
    "extract_candidate_hrefs", "admit_links", "is_junk_href", "PRIVACY_POLICY_KEYWORDS",
    "parse_robots", "robots_allows", "url_path",
]
