"""Output checks: crawls against ``core.oracle.CrawlOracle``, the
parse/tokenize outputs against the same ``core`` kernels run in this
process over the same pages."""

from __future__ import annotations

import hashlib
from collections import Counter

from privacy_crawler_parser_tokenizer_spark.core import (
    apply_sentence_rules,
    compare_parsed_text,
    sent_tokenize,
)
from privacy_crawler_parser_tokenizer_spark.core.spans import extract_doc
from privacy_crawler_parser_tokenizer_spark.pipeline import (
    RESIDUAL_TOLERANCE,
    RULE_HIST_BINS,
)

METRIC_FIELDS = ("round", "granted", "fetched", "new_links", "policies",
                 "active_domains")


def log_key(r) -> tuple:
    """One crawl-log row as compared: every field, sim to 9 places."""
    return (r.seed_rank, r.url, r.discovery_rank, r.round, r.fetched,
            r.valid, r.duplicate, r.doc_id, round(r.sim, 9))


def _first_diff(got: list, want: list) -> str:
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"row {i}: got {g!r}, want {w!r}"
    return f"{len(got)} rows, want {len(want)}"


def crawl_problems(log: list[tuple], seen: dict[str, int],
                   metrics: list[tuple], expected) -> list[str]:
    """Differences between one crawl and the oracle result: crawl log in
    (seed_rank, discovery_rank) order, seen set with revisit counts,
    per-round metrics.  Empty when they match exactly."""
    problems = []
    want_log = [log_key(r) for r in expected.crawl_log]
    if log != want_log:
        problems.append("crawl_log " + _first_diff(log, want_log))
    if seen != expected.seen:
        diff = sorted(set(seen.items()) ^ set(expected.seen.items()))
        problems.append(f"seen: {len(diff)} differing entries, e.g. {diff[:2]}")
    want_m = [tuple(m[f] for f in METRIC_FIELDS) for m in expected.metrics]
    if metrics != want_m:
        problems.append("metrics " + _first_diff(metrics, want_m))
    return problems


# -- parse/tokenize ----------------------------------------------------------


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def hist_bucket(cnt: int) -> int:
    """Number of histogram edges <= cnt (the pipeline's bucket)."""
    return sum(1 for e in RULE_HIST_BINS if e <= cnt)


def reference_outputs(docs: list[tuple[str, str]]) -> dict:
    """``sentences`` and ``corpus_hist`` rows for ``(doc_id, html)``
    docs, computed one document at a time with the ``core`` kernels."""
    sentences = []
    hist: Counter = Counter()
    for doc_id, html in docs:
        spans, stripped = extract_doc(html or "")
        residual = len(compare_parsed_text(spans, stripped)) if stripped else 0
        if not (html and stripped and residual <= RESIDUAL_TOLERANCE):
            continue
        seen_kind: Counter = Counter()
        tags = []
        for s in spans:
            tags.append(f"{s.kind}{seen_kind[s.kind]}")
            seen_kind[s.kind] += 1
        rule_counts: Counter = Counter()
        for i, s in enumerate(spans):
            if s.kind not in ("p", "h"):
                continue
            proc_by = tags[i + 1] if i + 1 < len(spans) else "None"
            for j, sent in enumerate(sent_tokenize(s.text) if s.text else []):
                hits = tuple(apply_sentence_rules(sent))
                rule_counts.update(hits)
                sentences.append((doc_id, s.offset, tags[i], tags[i - 1], proc_by,
                                  j, sent, len(sent.split()), hits))
        for rule, cnt in rule_counts.items():
            hist[(rule, hist_bucket(cnt))] += 1
    return {"sentences": sentences,
            "corpus_hist": [(r, b, n) for (r, b), n in hist.items()]}


SENTENCE_COLUMNS = ("doc_id", "seq_index", "tag", "prec_by", "proc_by",
                    "sent_idx", "text", "n_words", "rule_hits")


def read_outputs(out_dir: str) -> dict:
    """The rows a parse/tokenize operation wrote as parquet."""
    import pyarrow.parquet as pq

    sent = pq.read_table(f"{out_dir}/sentences", columns=list(SENTENCE_COLUMNS))
    hist = pq.read_table(f"{out_dir}/corpus_hist", columns=["rule", "bucket", "n_docs"])
    cols = [sent.column(c).to_pylist() for c in SENTENCE_COLUMNS]
    cols[-1] = [tuple(h) for h in cols[-1]]
    return {"sentences": list(zip(*cols)),
            "corpus_hist": list(zip(*(hist.column(c).to_pylist()
                                      for c in ("rule", "bucket", "n_docs"))))}


def pipeline_problems(got: dict, expected_digests: dict) -> list[str]:
    return [
        f"{name}: {len(got[name])} rows, digest {digest(got[name])[:12]} "
        f"!= expected {want[:12]}"
        for name, want in expected_digests.items()
        if digest(got[name]) != want
    ]
