"""TEDS — Tree-Edit-Distance Similarity for tables, from scratch.

Pipeline pieces (reference parity targets, not copies):

- :class:`TableNode` — tree node with ``tag, colspan, rowspan, content,
  children`` mirroring the reference's TableTree shape
  (packages/docling-metrics-table/docling_metrics_table/utils/teds.py:37-43).
- bracket serialization / parsing — the wire format used to ship trees
  across process boundaries in the reference (teds.py:45-165, C++ parser
  cpp_src/parser/bracket_notation_parser.h). In our engine the bracket
  string is a DataFrame STRING column; trees are parsed inside the UDF.
- :func:`html_to_tree` — stdlib ``html.parser`` DOM walk replacing the
  reference's lxml walk (teds.py:211-244): th normalized to td,
  colspan/rowspan attributes parsed with default 1, cell text
  char-tokenized. Its handlers also build the trees of extraction's table
  spans, fed event by event from the document parse.
- :func:`normalize_spans` — HTML and cells input are scored on their
  trees directly: normalizing the spans as the bracket round trip would
  (0 → 1, negative → error) makes that exactly the bracket path's score
  without serializing. Bracket strings are parsed
  only when they are the input (the bracket input mode and the TEDS join).
- :func:`tree_edit_distance` — the Zhang–Shasha algorithm (Zhang & Shasha,
  SIAM J. Comput. 1989 — published) with the reference's custom costs
  (teds.py:13-34): insert/delete cost 1; rename cost 1 if tag/colspan/rowspan
  differ, else the normalized character Levenshtein of cell content for
  td/th, else 0, over flat postorder label/content arrays. (The
  reference's C++ path uses APTED with identical costs; Zhang–Shasha
  computes the same exact TED value, per the north rule which names
  Zhang-Shasha explicitly.)
- TEDS = ``1 − distance / max(n_nodes_a, n_nodes_b)`` with node counts
  taken from the full trees (C++ path semantics,
  cpp_src/pybind/teds_manager.h:87-96); for bracket input,
  :func:`teds_detail_from_brackets` returns the un-normalized
  (distance, n_nodes_a, n_nodes_b) triple.

Malformed bracket strings raise ``ValueError`` — the reference surfaces an
(error_id, error_msg) channel and re-raises (docling_metrics_table.py:219-220);
our UDFs catch and emit an error struct column.
"""

from __future__ import annotations

import ast
import json
import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

from docling_metrics_spark.kernels.levenshtein import levenshtein


@dataclass
class TableNode:
    tag: str
    colspan: int | None = None
    rowspan: int | None = None
    content: list[str] | None = None
    children: list["TableNode"] = field(default_factory=list)
    # header provenance (th tag or thead ancestor) — carried for the GriTS
    # cells schema; ignored by TEDS costs and bracket serialization, where
    # th is normalized to td (reference teds.py:219-221)
    header: bool = False

    def is_cell(self) -> bool:
        return self.tag in ("td", "th")

    def size(self) -> int:
        return 1 + sum(c.size() for c in self.children)


# ---------------------------------------------------------------------------
# Bracket notation (wire format for trees in a STRING column)
# ---------------------------------------------------------------------------

# Deepest nesting accepted from ANY tree input (HTML or raw bracket wire
# format) — see the parser note below.
MAX_TABLE_DEPTH = 200

_TAG_RE = re.compile(r'\s*"tag":\s*(\w+)')
_SPAN_RE = re.compile(r'\s*,\s*"colspan":\s*(\d+)\s*,\s*"rowspan":\s*(\d+)')
_TEXT_RE = re.compile(r'\s*,\s*"text":\s*(\[.*?\])(?=\s*[{}])', re.DOTALL)


def tree_to_bracket(node: TableNode) -> str:
    """Serialize a tree to bracket notation."""
    parts: list[str] = []
    _serialize(node, parts)
    return "".join(parts)


def _serialize(node: TableNode, out: list[str]) -> None:
    if node.is_cell():
        out.append(
            '{"tag": %s, "colspan": %d, "rowspan": %d, "text": %s'
            % (
                node.tag,
                node.colspan or 1,
                node.rowspan or 1,
                json.dumps(node.content or []),
            )
        )
    else:
        out.append('{"tag": %s' % node.tag)
    for child in node.children:
        _serialize(child, out)
    out.append("}")


def bracket_to_tree(s: str) -> TableNode:
    """Parse bracket notation into a tree; raises ValueError on malformed input."""
    node, pos = _parse_node(s, 0)
    while pos < len(s) and s[pos].isspace():
        pos += 1
    if pos != len(s):
        raise ValueError(f"trailing data at position {pos} in bracket string")
    return node


def _parse_node(s: str, pos: int, depth: int = 0) -> tuple[TableNode, int]:
    if depth > MAX_TABLE_DEPTH:
        # raw bracket strings are external wire-format input; cap nesting
        # here too so hostile payloads surface as ValueError, not
        # RecursionError (see MAX_TABLE_DEPTH)
        raise ValueError(
            f"bracket nesting deeper than {MAX_TABLE_DEPTH} levels"
        )
    while pos < len(s) and s[pos].isspace():
        pos += 1
    if pos >= len(s) or s[pos] != "{":
        raise ValueError(f"expected '{{' at position {pos}")
    pos += 1
    m = _TAG_RE.match(s, pos)
    if not m:
        raise ValueError(f"missing tag at position {pos}")
    tag = m.group(1)
    pos = m.end()

    node = TableNode(tag)
    span_m = _SPAN_RE.match(s, pos)
    if span_m:
        node.colspan = int(span_m.group(1))
        node.rowspan = int(span_m.group(2))
        pos = span_m.end()
        text_m = _TEXT_RE.match(s, pos)
        if text_m:
            pos = text_m.end()
            lit = text_m.group(1)
            try:
                node.content = [str(t) for t in json.loads(lit)]
            except ValueError:
                try:
                    node.content = [str(t) for t in ast.literal_eval(lit)]
                except (ValueError, SyntaxError) as exc:
                    raise ValueError(
                        f"bad text literal at position {pos}"
                    ) from exc
        else:
            node.content = []

    while True:
        while pos < len(s) and s[pos].isspace():
            pos += 1
        if pos >= len(s):
            raise ValueError("unexpected end of bracket string")
        if s[pos] == "}":
            return node, pos + 1
        if s[pos] == "{":
            child, pos = _parse_node(s, pos, depth + 1)
            node.children.append(child)
        else:
            raise ValueError(f"unexpected character {s[pos]!r} at position {pos}")


# ---------------------------------------------------------------------------
# HTML table -> tree (stdlib html.parser; replaces the reference's lxml walk)
# ---------------------------------------------------------------------------

_STRUCTURAL_TAGS = {"table", "thead", "tbody", "tfoot", "tr", "caption", "colgroup", "col"}


# Why the depth cap: downstream tree walks (size, serialization,
# Zhang-Shasha) use Python recursion; without a cap one adversarial
# document with thousands of nested <table> tags raises RecursionError —
# which is NOT the ValueError the Arrow UDF error channels catch — and
# kills the executor task. 200 is far beyond any real table and well
# inside the default recursion limit.


class _TableHTMLParser(HTMLParser):
    def __init__(self, structure_only: bool) -> None:
        super().__init__(convert_charrefs=True)
        self.structure_only = structure_only
        self.root: TableNode | None = None
        self._stack: list[TableNode] = []
        self._cell_depth = 0  # >0 while inside a td/th

    def handle_starttag(self, tag, attrs):
        if len(self._stack) > MAX_TABLE_DEPTH:
            raise ValueError(
                f"table nesting deeper than {MAX_TABLE_DEPTH} levels"
            )
        if tag in ("td", "th"):
            attr = dict(attrs)
            node = TableNode(
                "td",  # th normalized to td (reference teds.py:219-221)
                colspan=_int_attr(attr.get("colspan"), 1),
                rowspan=_int_attr(attr.get("rowspan"), 1),
                content=[],
                header=tag == "th"
                or any(n.tag == "thead" for n in self._stack),
            )
            self._attach(node)
            self._stack.append(node)
            self._cell_depth += 1
        elif tag in _STRUCTURAL_TAGS:
            node = TableNode(tag)
            self._attach(node)
            if tag not in ("col",):  # void element
                self._stack.append(node)
        # other tags inside cells (b, i, span…) contribute text only

    def handle_endtag(self, tag):
        if tag in ("td", "th"):
            if self._stack and self._stack[-1].tag == "td":
                self._stack.pop()
                self._cell_depth -= 1
        elif tag in _STRUCTURAL_TAGS and tag != "col":
            for i in range(len(self._stack) - 1, -1, -1):
                if self._stack[i].tag == tag:
                    del self._stack[i:]
                    break

    def handle_data(self, data):
        # a structural end tag may have popped an unclosed cell (and with
        # the root, the whole stack): then the text belongs to no cell
        if self._cell_depth > 0 and not self.structure_only and data and self._stack:
            cell = self._stack[-1]
            if cell.content is not None:
                # char-tokenized cell text (reference teds.py:197-209)
                cell.content.extend(data)

    def _attach(self, node: TableNode) -> None:
        if self.root is None:
            self.root = node
        elif self._stack:
            self._stack[-1].children.append(node)


def _int_attr(value, default: int) -> int:
    try:
        return int(value)
    except (TypeError, ValueError):
        return default


def html_to_tree(html: str, structure_only: bool = False) -> TableNode:
    """Parse a ``<table>…</table>`` HTML string into a TableNode tree."""
    p = _TableHTMLParser(structure_only)
    p.feed(html)
    p.close()
    if p.root is None:
        raise ValueError("no <table> element found in HTML")
    return p.root


def html_to_bracket(html: str, structure_only: bool = False) -> str:
    return tree_to_bracket(html_to_tree(html, structure_only))


def _node_to_html(node: TableNode) -> str:
    """Render a table tree as HTML (spans emitted only when > 1, reference
    teds.py:257-277)."""
    if node.is_cell():
        attrs = ""
        if (node.colspan or 1) > 1:
            attrs += f' colspan="{node.colspan}"'
        if (node.rowspan or 1) > 1:
            attrs += f' rowspan="{node.rowspan}"'
        text = "".join(node.content or [])
        return f"<td{attrs}>{text}</td>"
    inner = "".join(_node_to_html(c) for c in node.children)
    return f"<{node.tag}>{inner}</{node.tag}>"


def normalize_spans(root: TableNode) -> TableNode:
    """Give ``root``'s cells the spans the bracket round trip would: a
    missing or 0 span becomes 1, and a negative span raises ValueError
    (the bracket grammar's spans are unsigned, so the round trip rejects
    the table). A normalized tree scores exactly as its bracket string
    does, without serializing and re-parsing it. Mutates and returns
    ``root``."""
    stack = [root]
    while stack:
        node = stack.pop()
        if node.is_cell():
            if (node.colspan or 0) < 0 or (node.rowspan or 0) < 0:
                raise ValueError("negative cell span")
            node.colspan = node.colspan or 1
            node.rowspan = node.rowspan or 1
        stack.extend(node.children)
    return root


# ---------------------------------------------------------------------------
# Zhang–Shasha tree edit distance with the reference's custom costs
# ---------------------------------------------------------------------------


def _postorder(root: TableNode, label_ids: dict) -> tuple[list, list, list]:
    """Postorder arrays of one tree: a label id per node (equal ids ⇔
    equal ``(tag, colspan or None, rowspan or None)``), the cell content
    (None for a non-cell) and the leftmost-leaf index."""
    labels: list[int] = []
    contents: list = []
    lml: list[int] = []

    def visit(node: TableNode) -> int:
        first = None
        for child in node.children:
            leaf = visit(child)
            if first is None:
                first = leaf
        idx = len(labels)
        key = (node.tag, node.colspan or None, node.rowspan or None)
        labels.append(label_ids.setdefault(key, len(label_ids)))
        contents.append((node.content or []) if node.is_cell() else None)
        lml.append(idx if first is None else first)
        return lml[idx]

    visit(root)
    return labels, contents, lml


def tree_edit_distance(root1: TableNode, root2: TableNode) -> float:
    """Zhang–Shasha TED with unit insert/delete and the reference's rename
    cost (CustomConfig.rename, teds.py:23-34): 1 if tag/colspan/rowspan
    differ, else the normalized Levenshtein of two cells' contents, else 0.

    Each (node, node) rename is needed by exactly one keyroot pair (the
    pair sharing both nodes' leftmost leaves), so costs are computed
    inline, never cached. The forest DP runs one row per node of the
    first forest."""
    label_ids: dict = {}
    lab1, con1, l1 = _postorder(root1, label_ids)
    lab2, con2, l2 = _postorder(root2, label_ids)
    n1, n2 = len(lab1), len(lab2)
    # keyroot = last node (in postorder) with its leftmost-leaf value
    keyroots1 = sorted({l1[i]: i for i in range(n1)}.values())
    keyroots2 = sorted({l2[i]: i for i in range(n2)}.values())

    def rename(x: int, y: int) -> float:
        if lab1[x] != lab2[y]:
            return 1.0
        ca, cb = con1[x], con2[y]
        if ca is None or ca == cb:
            return 0.0
        return levenshtein(ca, cb) / max(len(ca), len(cb))

    td = [[0.0] * n2 for _ in range(n1)]
    for i in keyroots1:
        li = l1[i]
        for j in keyroots2:
            lj = l2[j]
            if li == i and lj == j:
                # two leaves: min(1 + 1, 1 + 1, 0 + rename) is the rename
                td[i][j] = rename(i, j)
                continue
            ys = range(lj, j + 1)
            # fd[x][y]: forest l1[li..li+x-1] vs l2[lj..lj+y-1]
            prev = [float(y) for y in range(j - lj + 2)]
            fd = [prev]
            for x in range(li, i + 1):
                row = [prev[0] + 1.0]
                tdx = td[x]
                lx = l1[x]
                if lx == li:
                    for c, y in enumerate(ys, 1):
                        ly = l2[y]
                        if ly == lj:
                            v = min(prev[c] + 1.0, row[c - 1] + 1.0,
                                    prev[c - 1] + rename(x, y))
                            tdx[y] = v
                        else:
                            v = min(prev[c] + 1.0, row[c - 1] + 1.0,
                                    fd[0][ly - lj] + tdx[y])
                        row.append(v)
                else:
                    base = fd[lx - li]
                    for c, y in enumerate(ys, 1):
                        row.append(min(prev[c] + 1.0, row[c - 1] + 1.0,
                                       base[l2[y] - lj] + tdx[y]))
                fd.append(row)
                prev = row
    return td[n1 - 1][n2 - 1]


def teds_detail_from_brackets(bracket_a: str, bracket_b: str) -> tuple[float, int, int]:
    """(tree-edit distance, size_a, size_b) — the un-normalized triple
    of bracket-string TEDS, exposed so the bracket-pairs and TEDS-join
    queries can materialize it and normalize it on the JVM (a SQL oracle
    re-derives TEDS = 1 − d/max from the same triple)."""
    if bracket_a == bracket_b:
        # identical serialization ⇒ identical tree ⇒ TED 0; still parse to
        # reject malformed input, and take the size from the TREE — counting
        # '{' in the string over-counts when cell text itself contains
        # braces (it is JSON-embedded), which would disagree with the
        # tree.size() reported on the non-identical path
        n = bracket_to_tree(bracket_a).size()
        return 0, n, n
    ta = bracket_to_tree(bracket_a)
    tb = bracket_to_tree(bracket_b)
    return tree_edit_distance(ta, tb), ta.size(), tb.size()
