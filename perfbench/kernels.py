"""Single-process timings of the public ``core`` page kernels on a
fixed sample of a workload's own pages."""

from __future__ import annotations

import statistics
import time

from privacy_crawler_parser_tokenizer_spark.core import (
    is_english,
    sent_tokenize,
    tfidf_cosine_counts,
    tokenize_counts,
)
from privacy_crawler_parser_tokenizer_spark.core.links import strip_and_candidate_hrefs
from privacy_crawler_parser_tokenizer_spark.core.spans import extract_doc

SAMPLE_PAGES = 200
REPEATS = 5


def sample(pages: list[str], n: int = SAMPLE_PAGES) -> list[str]:
    """Every k-th non-empty page, in the given order."""
    pages = [p for p in pages if p]
    step = max(1, len(pages) // n)
    return pages[::step][:n]


def _us_per_item(fn, items) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(items) * 1e6


def kernel_timings(pages: list[str], ground_truth: str,
                   dictionary: frozenset) -> dict[str, float]:
    """Microseconds per page (per p/h span for the sentencizer)."""
    gt = tokenize_counts(ground_truth)
    texts = [t for t in (strip_and_candidate_hrefs(h)[0] for h in pages) if t]
    spans = [s.text for h in pages for s in extract_doc(h)[0]
             if s.kind in ("p", "h") and s.text]

    def verify(text):
        return is_english(dictionary, text) and tfidf_cosine_counts(
            gt, tokenize_counts(text))

    return {
        "core.strip_links_us": _us_per_item(strip_and_candidate_hrefs, pages),
        "core.verify_us": _us_per_item(verify, texts),
        "core.extract_us": _us_per_item(extract_doc, pages),
        "core.sentencize_us": _us_per_item(sent_tokenize, spans),
    }
