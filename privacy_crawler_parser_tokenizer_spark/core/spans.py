"""HTML -> ordered span-sequence extraction (the engine's core IR).

Reproduces the reference parser's tag-tree walk exactly
(reference: src/parser-tokenizer.py:108-168) with one documented
extension: media spans.  The reference *discards* img/iframe by
decomposing them (src/verification/verify.py:78-82); per the target data
model, the engine instead retains them as interleaved spans
``kind="media", text=None, media_ref=<src>``.

Span schema (BASELINE input_hint):
    (kind STRING, text STRING, media_ref STRING, offset INT)
kind in {"p","h","l","media"}; offset = position in the sequential list.

Quirks deliberately preserved from the reference walk:
  * p/h emission recurses into the element afterwards
    (src/parser-tokenizer.py:168 recurses unconditionally), so nested
    p/h inside an emitted p/h double-emit;
  * lists do NOT recurse (``continue`` at :166), and their text is the
    newline-join of each *direct* child's text (:156-159);
  * colon rule: a preceding span ending in ':' donates its last sentence
    to the list span; an emptied donor becomes the META marker
    (:145-155);
  * per-kind tag_index counters are function-local in the reference, so
    they RESET on every recursion level (walk_tree re-initialises
    paragraph_index/header_index/list_index at :116-118 on each call).
    This means nested emissions restart numbering — preserved here.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .htmldom import Node, parse_html
from .rules import META_LIST_PREFIX
from .sentencize import sent_tokenize

# reference: src/verification/verify.py:78-79
BAD_TAGS_REFERENCE = (
    "style script noscript head title meta [document] img iframe "
    "header footer nav".split()
)
# media mode keeps img/iframe as spans
BAD_TAGS_MEDIA = [t for t in BAD_TAGS_REFERENCE if t not in ("img", "iframe")]

_HEADER_RE = re.compile(r"h\d")
_LIST_RE = re.compile(r"[u|o]l")
_MEDIA_TAGS = frozenset(["img", "iframe"])


@dataclass
class Span:
    kind: str
    text: str | None
    media_ref: str | None
    offset: int

    def as_tuple(self):
        return (self.kind, self.text, self.media_ref, self.offset)


def remove_bad_tags(root: Node, media: bool = True) -> Node:
    """reference: src/verification/verify.py:70-82"""
    root.decompose_all(BAD_TAGS_MEDIA if media else BAD_TAGS_REFERENCE)
    return root


def strip_text(html: str | bytes) -> str:
    """Visible text of a document: parse, drop bad tags (reference list,
    media removed), join stripped strings with single spaces
    (reference: src/verification/verify.py:84-104)."""
    if not html:
        return ""
    root = parse_html(html)
    remove_bad_tags(root, media=False)
    return " ".join(root.stripped_strings())


def _walk(node: Node, spans: list[Span], media: bool) -> None:
    """reference: src/parser-tokenizer.py:108-168 (walk_tree)."""
    # per-call counters: reference re-initialises these at every
    # recursion level (:116-118)
    paragraph_index = 0
    header_index = 0
    list_index = 0

    for element in node.children:
        if not isinstance(element, Node):
            continue  # skip_tag: comments & strings (:42-55)
        name = element.name

        if name == "p":
            text = element.get_text().strip() + "\n"
            spans.append(Span("p", text, None, len(spans)))
            paragraph_index += 1
        elif _HEADER_RE.match(name):
            text = element.get_text().strip() + "\n"
            spans.append(Span("h", text, None, len(spans)))
            header_index += 1
        elif _LIST_RE.match(name):
            text = ""
            # colon rule (:145-155): previous *text* span ending in ':'
            if spans:
                prev = spans[-1]
                if prev.text is not None:
                    prev_stripped = prev.text.strip()
                    if prev_stripped.endswith(":"):
                        sents = sent_tokenize(prev_stripped)
                        donated = (sents[-1] if sents else prev_stripped)
                        text = donated + "\n"
                        # reference replaces ALL occurrences (:153)
                        prev.text = prev.text.replace(donated, "")
                        if prev.text.strip() == "":
                            prev.text = META_LIST_PREFIX
            for child in element.children:
                if not isinstance(child, Node):
                    continue
                text = text + child.get_text().strip() + "\n"
            spans.append(Span("l", text, None, len(spans)))
            list_index += 1
            continue  # lists never recurse (:166)
        elif media and name in _MEDIA_TAGS:
            src = element.attrs.get("src")
            spans.append(Span("media", None, src, len(spans)))
            # img is void / iframe content is not policy text: no recurse
            continue

        _walk(element, spans, media)


def extract_spans(html: str | bytes, media: bool = True) -> list[Span]:
    """Parse ``html`` and return the ordered span sequence.

    Returns ``[]`` for empty/unparseable input
    (reference gates: src/parser-tokenizer.py:256-279).
    """
    if not html:
        return []
    root = parse_html(html)
    remove_bad_tags(root, media=media)
    spans: list[Span] = []
    _walk(root, spans, media)
    return spans


def extract_doc(html: str | bytes, media: bool = True) -> tuple[list[Span], str]:
    """Single-parse (spans, stripped_text): the per-doc UDF path parsed
    the document twice (extract_spans then strip_text — the stdlib
    HTML parse is ~90% of kernel time); this parses once, walks the
    tree for spans, then decomposes the media tags in place and joins
    stripped strings.  Bit-identical to calling the two functions
    separately (the walk never mutates the tree; media removal after
    extraction reproduces strip_text's BAD_TAGS_REFERENCE set)."""
    if not html:
        return [], ""
    root = parse_html(html)
    remove_bad_tags(root, media=media)
    spans: list[Span] = []
    _walk(root, spans, media)
    if media:
        root.decompose_all(list(_MEDIA_TAGS))
    return spans, " ".join(root.stripped_strings())


def tag_indices(spans: list[Span]) -> list[int]:
    """Global per-kind ordinal for each span (0-based within its kind).

    The engine's canonical ``tag_index``: the reference's per-recursion
    counters are an artifact (see module docstring); the rebuild defines
    tag_index per (doc, kind) over the whole sequence, computable
    relationally as ``row_number() OVER (PARTITION BY doc_id, kind
    ORDER BY offset) - 1``.
    """
    counters: dict[str, int] = {}
    out = []
    for s in spans:
        i = counters.get(s.kind, 0)
        out.append(i)
        counters[s.kind] = i + 1
    return out


def span_context(spans: list[Span]) -> list[tuple[int, str, str, str]]:
    """Per-span ``(tag_index, tag, prec_by, proc_by)``, O(n) per document.

    tag label = kind || tag_index (reference 'p3' style,
    src/parser-tokenizer.py:87,225).  prec_by keeps the reference's
    Python ``-1`` wraparound: the first span's predecessor is the LAST
    span (:87,211-213); proc_by is 'None' past the end (IndexError
    branch)."""
    idx = tag_indices(spans)
    tags = [f"{s.kind}{i}" for s, i in zip(spans, idx)]
    n = len(tags)
    return [
        (idx[k], tags[k], tags[k - 1], tags[k + 1] if k + 1 < n else "None")
        for k in range(n)
    ]


def compare_parsed_text(spans: list[Span], auto_stripped_text: str) -> list[str]:
    """Parse self-check: remove each span line (first occurrence, span
    order) from the independently stripped text, sentence-tokenize the
    residue (reference: src/parser-tokenizer.py:170-188).  Caller fails
    the doc when ``len(result) > 5`` (:306)."""
    for span in spans:
        if span.text is None:
            continue
        for segment in span.text.splitlines():
            seg = segment.strip()
            if seg:
                auto_stripped_text = auto_stripped_text.replace(seg, "", 1)
    return sent_tokenize(auto_stripped_text)


def render_spans_html(spans: list[tuple]) -> str:
    """Render (kind, text, media_ref, offset) tuples back to HTML such
    that ``extract_spans(render_spans_html(s)) == s`` for well-formed
    span text (used by fixture generators; FIXTURES.md §1)."""
    from html import escape

    parts = ["<html><body>"]
    for kind, text, media_ref, _offset in spans:
        if kind == "p":
            parts.append(f"<p>{escape((text or '').strip())}</p>")
        elif kind == "h":
            parts.append(f"<h2>{escape((text or '').strip())}</h2>")
        elif kind == "l":
            items = [li for li in (text or "").split("\n") if li != ""]
            lis = "".join(f"<li>{escape(li)}</li>" for li in items)
            parts.append(f"<ul>{lis}</ul>")
        elif kind == "media":
            parts.append(f'<img src="{escape(media_ref or "", quote=True)}">')
    parts.append("</body></html>")
    return "".join(parts)
