"""Main-content extraction: HTML boilerplate strip → ordered span sequence.

The north-star operator (BASELINE.json north_rule): parse a raw HTML
document, strip boilerplate (nav / footer / ads / sidebars) with DOM-tree
heuristics — block-level tag classification, link-ratio scoring, text
density — and emit the ordered main-content span sequence
``(kind, text, media_ref, offset)``.

The heuristics follow the published boilerplate-removal literature
(Kohlschütter et al., "Boilerplate Detection using Shallow Text Features",
WSDM 2010 — text density + link density; Readability/arc90-style tag and
class priors). The DOM-walk pattern mirrors how the reference walks table
DOMs (utils/teds.py:211-244, utils/grits.py:487-534) but is written fresh on
stdlib ``html.parser`` (lxml is unavailable here and unnecessary).

Each document is parsed once. A table's events go from the DOM builder
straight to the TEDS table parser (``kernels.teds._TableHTMLParser``), and
the table span's text is the canonical serialization of the tree it
builds, so entities are decoded exactly once. A table that parser refuses
(nesting past ``MAX_TABLE_DEPTH``) keeps its whitespace-normalized raw
re-serialization as span text; a table still open at the end of the
document is an empty table span. Extraction never raises on such input.

This module is pure Python: it is both the single-process oracle for the
pytest span-equality suite and the extraction step of the fused flagship
UDF (``operators.udfs.flagship_doc_udf``, one call per document,
Arrow-batched).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

from docling_metrics_spark.kernels.teds import _node_to_html, _TableHTMLParser

# Subtrees never part of main content (block-level tag classification).
_DROP_TAGS = {
    "script", "style", "head", "nav", "footer", "aside", "form",
    "noscript", "iframe", "button", "svg", "header",
}
# class/id substrings marking ad/boilerplate blocks (Readability-style prior).
_BOILER_CLASS_RE = re.compile(
    r"(?:^|[-_ ])(ad|ads|advert|promo|banner|sidebar|sponsor|popup|cookie|"
    r"share|social|related|comment)(?:$|[-_ ])",
    re.IGNORECASE,
)
_HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
_VOID_TAGS = {"img", "br", "hr", "meta", "link", "input", "area", "base",
              "col", "embed", "source", "track", "wbr"}
_WS_RE = re.compile(r"\s+")

# A block is boilerplate when more than this fraction of its text is inside
# links (link-density heuristic).
LINK_RATIO_THRESHOLD = 0.5
# DOM depth cap: beyond this, child elements are FLATTENED into their
# ancestor instead of nesting (text is preserved). The scoring/emit walks
# recurse over the tree; a hostile page with thousands of nested tags
# would otherwise raise RecursionError inside the extraction UDF and kill
# the task. 150 is far deeper than real content pages nest.
MAX_DOM_DEPTH = 150
# Minimum words for a text block to count as content (text-density floor).
MIN_CONTENT_WORDS = 1


@dataclass
class _Node:
    tag: str  # "" for text nodes
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)
    text: str = ""


class _DOMBuilder(HTMLParser):
    """Minimal DOM: elements + text nodes, dropped subtrees pruned inline.

    A table region's events go straight to a :class:`_TableHTMLParser`,
    so each table is parsed once; the region ends when every non-void tag
    opened inside it has closed, whatever its name."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("document")
        self._stack = [self.root]
        self._drop_depth = 0
        self._table_depth = 0  # open non-void tags of the current table region
        self._table: _TableHTMLParser | None = None  # None once it refused
        self._table_events: list = []  # for a refused table's span text
        self._suppress_depth = 0  # wrappers beyond MAX_DOM_DEPTH (transparent)

    def handle_starttag(self, tag, attrs):
        if self._drop_depth:
            if tag in _VOID_TAGS:
                return
            self._drop_depth += 1
            return
        if self._table_depth:
            self._table_event((tag, attrs))
            if tag not in _VOID_TAGS:
                self._table_depth += 1
            return
        if tag in _DROP_TAGS:
            self._drop_depth = 1
            return
        if self._suppress_depth or (
            len(self._stack) >= MAX_DOM_DEPTH
            and tag != "table"
            and tag not in _VOID_TAGS
        ):
            # wrapper beyond the depth cap: TRANSPARENT — no node, no push;
            # text and void content (e.g. img) attach to the cap-level
            # node, which stays a leaf block and still emits
            # (see MAX_DOM_DEPTH)
            if tag in _VOID_TAGS:
                # void tags get no end tag: attach without counting
                self._stack[-1].children.append(_Node(tag, dict(attrs)))
                return
            self._suppress_depth += 1
            return
        node = _Node(tag, dict(attrs))
        self._stack[-1].children.append(node)
        if tag == "table":
            self._table_depth = 1
            self._table = _TableHTMLParser(structure_only=False)
            self._table_events = []
            self._table_event((tag, attrs))
            self._stack.append(node)
        elif tag not in _VOID_TAGS:
            self._stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag not in _VOID_TAGS and not self._drop_depth and not self._table_depth:
            self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if self._suppress_depth:
            if tag not in _VOID_TAGS:
                self._suppress_depth -= 1
            return
        if self._drop_depth:
            if tag not in _VOID_TAGS:
                self._drop_depth -= 1
            return
        if self._table_depth:
            self._table_event((tag, None))
            if tag not in _VOID_TAGS:
                self._table_depth -= 1
            if self._table_depth == 0:
                # a table never closed keeps text "" and swallows the rest
                self._stack.pop().text = (
                    _node_to_html(self._table.root) if self._table is not None
                    else _norm_text(_raw_html(self._table_events))
                )
            return
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                break

    def handle_data(self, data):
        if self._drop_depth:
            return
        if self._table_depth:
            self._table_event(data)
            return
        if data.strip():
            self._stack[-1].children.append(_Node("", text=data))

    def _table_event(self, event) -> None:
        """Log one table event — ``(tag, attrs)`` start, ``(tag, None)``
        end, or a data string — and forward it to the table parser. A
        table the parser refuses (nesting past MAX_TABLE_DEPTH) gets its
        whitespace-normalized raw re-serialization as span text."""
        self._table_events.append(event)
        if self._table is None:
            return
        try:
            if isinstance(event, str):
                self._table.handle_data(event)
            elif event[1] is None:
                self._table.handle_endtag(event[0])
            else:
                self._table.handle_starttag(*event)
        except ValueError:
            self._table = None


def _raw_html(events: list) -> str:
    """Re-serialize logged table events (see ``_DOMBuilder._table_event``)."""
    parts = []
    for ev in events:
        if isinstance(ev, str):
            parts.append(ev)
        elif ev[1] is None:
            parts.append(f"</{ev[0]}>")
        else:
            parts.append(_raw_tag(*ev))
    return "".join(parts)


def _raw_tag(tag: str, attrs) -> str:
    if not attrs:
        return f"<{tag}>"
    a = " ".join(f'{k}="{v}"' for k, v in attrs)
    return f"<{tag} {a}>"


def _norm_text(s: str) -> str:
    return _WS_RE.sub(" ", s).strip()


def _collect_text(node: _Node, in_link: bool = False) -> tuple[str, int, int]:
    """Returns (concatenated text, total_len, link_len) over the subtree."""
    if node.tag == "":
        t = node.text
        n = len(t.strip())
        return t, n, n if in_link else 0
    if node.tag == "table":
        return "", 0, 0  # tables handled separately
    parts, total, link = [], 0, 0
    child_in_link = in_link or node.tag == "a"
    for c in node.children:
        t, n, ln = _collect_text(c, child_in_link)
        parts.append(t)
        total += n
        link += ln
    return " ".join(parts), total, link


def _is_boiler_class(node: _Node) -> bool:
    blob = f"{node.attrs.get('class', '')} {node.attrs.get('id', '')}"
    return bool(_BOILER_CLASS_RE.search(blob))


def _link_ratio(node: _Node) -> float:
    _, total, link = _collect_text(node)
    if total == 0:
        return 0.0
    return link / total


_BLOCK_TAGS = {"p", "div", "section", "article", "main", "body", "html",
               "document", "ul", "ol", "li", "blockquote", "pre", "span",
               "figure", "figcaption"}


def _emit(node: _Node, out: list[dict]) -> None:
    """Document-order walk emitting spans from content blocks."""
    tag = node.tag
    if tag in _HEADING_TAGS:
        text = _norm_text(_collect_text(node)[0])
        if text:
            out.append({"kind": "heading", "text": text, "media_ref": None})
        return
    if tag == "table":
        out.append({"kind": "table", "text": node.text, "media_ref": None})
        return
    if tag == "img":
        src = node.attrs.get("src")
        if src:
            out.append({"kind": "image", "text": None, "media_ref": src})
        return
    if tag == "p":
        if _link_ratio(node) > LINK_RATIO_THRESHOLD:
            return
        text = _norm_text(_collect_text(node)[0])
        if len(text.split()) >= MIN_CONTENT_WORDS:
            out.append({"kind": "text", "text": text, "media_ref": None})
        # still allow nested img/table inside p
        for c in node.children:
            if c.tag in ("img", "table"):
                _emit(c, out)
        return
    if tag in _BLOCK_TAGS or tag == "":
        if tag != "" and tag != "document" and _is_boiler_class(node):
            return
        has_block_child = any(
            c.tag in _BLOCK_TAGS or c.tag in _HEADING_TAGS or
            c.tag in ("table", "img") for c in node.children
        )
        # Link-density pruning applies to *leaf* blocks only (Kohlschütter
        # et al. 2010): a container isn't boilerplate just because a
        # link-heavy child sits next to real content.
        if tag != "" and tag != "document" and not has_block_child:
            if _link_ratio(node) > LINK_RATIO_THRESHOLD:
                return
            direct_text = _norm_text(_collect_text(node)[0])
            if direct_text and len(direct_text.split()) >= MIN_CONTENT_WORDS:
                out.append({"kind": "text", "text": direct_text,
                            "media_ref": None})
            return
        for c in node.children:
            _emit(c, out)
        return
    # Unknown inline tag: recurse (content may hide in spans/b/i wrappers).
    for c in node.children:
        _emit(c, out)


def extract_spans_from_html(raw_html: str) -> list[dict]:
    """Extract the ordered main-content span sequence from raw HTML.

    Returns [{kind, text, media_ref, offset}] with offset = 0,1,2,…
    """
    if not raw_html:
        return []
    builder = _DOMBuilder()
    builder.feed(raw_html)
    builder.close()
    out: list[dict] = []
    _emit(builder.root, out)
    for i, span in enumerate(out):
        span["offset"] = i
    return out
