"""Span-sequence equality: extractor vs generator ground truth.

The north-rule correctness gate: extraction from raw HTML must reproduce
the reference span sequence *exactly* — (kind, text, media_ref, order) —
including skew giants and boilerplate-only documents. Exact equality, not
tolerance-based (SURVEY.md §5 point 2).
"""

from docling_metrics_spark.datagen import gen_document
from docling_metrics_spark.extraction import extract_spans_from_html
from docling_metrics_spark.extraction.html_extract import (
    extract_spans_from_html as extract,
)


def test_span_equality_corpus():
    for doc in map(gen_document, range(800)):
        got = extract_spans_from_html(doc["raw_html"])
        assert got == doc["spans"], doc["doc_id"]


def test_empty_document():
    doc = gen_document(17)  # boilerplate-only by construction (17 % 211 == 17)
    assert doc["spans"] == []
    assert extract(doc["raw_html"]) == []


def test_skew_giant_document():
    doc = gen_document(0)  # skew_every hits index 0
    assert len(doc["spans"]) >= 100
    assert extract(doc["raw_html"]) == doc["spans"]


def test_boilerplate_stripped():
    html = (
        "<html><head><script>x</script><style>y</style></head><body>"
        "<nav><a href='/'>home</a></nav>"
        "<div class='sidebar'><a href='/x'>x</a></div>"
        "<p>real content here</p>"
        "<div class='ad-banner'><a href='/buy'>Buy now!</a></div>"
        "<footer>© footer</footer></body></html>"
    )
    spans = extract(html)
    assert spans == [
        {"kind": "text", "text": "real content here", "media_ref": None, "offset": 0}
    ]


def test_link_density_pruning():
    html = (
        "<body><p><a href='/a'>all of this text is links</a></p>"
        "<p>mostly plain words with <a href='/b'>one link</a> inside</p></body>"
    )
    spans = extract(html)
    assert len(spans) == 1
    assert spans[0]["text"].startswith("mostly plain")


def test_media_and_table_spans():
    html = (
        "<body><h2>title words</h2>"
        '<img src="media://d/1"/>'
        "<table><tr><td>a</td><td>b</td></tr></table></body>"
    )
    spans = extract(html)
    assert [s["kind"] for s in spans] == ["heading", "image", "table"]
    assert spans[1]["media_ref"] == "media://d/1"
    assert spans[1]["text"] is None
    assert spans[2]["text"] == "<table><tr><td>a</td><td>b</td></tr></table>"
    assert [s["offset"] for s in spans] == [0, 1, 2]


def test_table_canonicalization_idempotent():
    messy = '<table> <thead><tr><th colspan="2"> h </th></tr></thead> <tr><td>a</td><td>b</td></tr></table>'

    def table_text(html):
        (span,) = extract(f"<body>{html}</body>")
        return span["text"]

    c1 = table_text(messy)
    assert c1 == ('<table><thead><tr><td colspan="2"> h </td></tr></thead>'
                  "<tr><td>a</td><td>b</td></tr></table>")
    assert table_text(c1) == c1


def test_whitespace_normalization():
    html = "<body><p>  spaced\n\n   out\ttext  </p></body>"
    assert extract(html)[0]["text"] == "spaced out text"


def test_adversarial_deep_nesting_degrades_gracefully():
    """Thousands of nested wrappers must neither kill the task
    (RecursionError) nor lose content: beyond MAX_DOM_DEPTH wrappers are
    transparent, so text, images, and document order survive."""
    from docling_metrics_spark.extraction.html_extract import (
        extract_spans_from_html,
    )

    deep = (
        "<html><body>" + "<div>" * 3000 + "hello world"
        + "</div>" * 3000 + "</body></html>"
    )
    spans = extract_spans_from_html(deep)
    assert [(s["kind"], s["text"]) for s in spans] == [("text", "hello world")]

    ordered = (
        "<html><body><p>before</p>" + "<div>" * 400 + "mid"
        + "</div>" * 400 + "<p>after</p></body></html>"
    )
    texts = [s["text"] for s in extract_spans_from_html(ordered)]
    assert texts == ["before", "mid", "after"]

    with_img = (
        "<html><body>" + "<div>" * 400 + '<img src="x.png">'
        + "</div>" * 400 + "</body></html>"
    )
    spans = extract_spans_from_html(with_img)
    assert [(s["kind"], s["media_ref"]) for s in spans] == [("image", "x.png")]


def test_escaped_markup_in_table_cells_is_decoded_once():
    """Entities in a cell are decoded by the one parse of the document; the
    decoded text is cell content, not markup (a re-serialize/re-parse
    round trip would decode it twice and drop ``<b>`` as a tag)."""
    html = "<body><table><tr><td>x &lt;b&gt;y&lt;/b&gt; z &amp;amp;</td></tr></table></body>"
    (span,) = extract(html)
    assert span["text"] == "<table><tr><td>x <b>y</b> z &amp;</td></tr></table>"


def test_hostile_tables_extract_without_raising():
    """Tables the table parser refuses or never finishes still extract:
    nesting past MAX_TABLE_DEPTH keeps the whitespace-normalized raw
    re-serialization as span text, a table left open to the end of the
    document is an empty table span, and a cell left open by ``</table>``
    takes no later text."""
    deep = (
        "<body>" + '<table class="t"><tr>\n<td colspan="2">' * 250 + "x  y"
        + "</td></tr></table>" * 250 + "<p>after</p></body>"
    )
    spans = extract(deep)
    assert [s["kind"] for s in spans] == ["table", "text"]
    assert spans[0]["text"] == (
        '<table class="t"><tr> <td colspan="2">' * 250 + "x y"
        + "</td></tr></table>" * 250
    )

    unclosed = "<body><p>before</p><table><tr><td>x"
    assert [(s["kind"], s["text"]) for s in extract(unclosed)] == [
        ("text", "before"), ("table", "")]

    cell_left_open = "<body><table><td>a</table> trailing text</body>"
    assert [(s["kind"], s["text"]) for s in extract(cell_left_open)] == [
        ("table", "<table><td>a</td></table>")]
