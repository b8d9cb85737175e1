"""Deterministic synthetic corpus of interleaved text + media documents.

Generates the engine's canonical input table (BASELINE.json input_hint):

    documents(doc_id string,
              spans array<struct<kind,text,media_ref,offset>>,   -- ground truth
              raw_html string,                                   -- extraction input
              pred_spans array<struct<...>>,                     -- noisy prediction
              gt_boxes  array<struct<category_id,bbox,score>>,   -- layout GT
              pred_boxes array<struct<category_id,bbox,score>>,  -- layout preds
              page_width int, page_height int)

Every document is generated purely from ``(seed, doc_index)`` so generation
is deterministic, order-independent and embarrassingly parallel — at cluster
scale ``spark.range(n).mapInPandas(...)`` generates the corpus with zero
shuffle and no driver bottleneck. The raw_html wraps the true spans in
realistic boilerplate (nav, link-heavy sidebar, ad blocks, footer, script/
style) that the extractor must strip; the generator and extractor agree only
through the *heuristics* (tag classes, link ratio), not through any hidden
channel, so span-sequence equality is a real test of the extraction rules.

Skew knob: every ``skew_every``-th document is a "giant" with
``skew_factor``× the median span count — exercising map-side scoring of
giants, the partial/final aggregation and AQE skew handling.
"""

from __future__ import annotations

import random

_WORDS = (
    "data span table scan merge join filter window batch stream document "
    "layout metric score quality page cell row column text media figure "
    "heading content extract parse tree edit distance token shuffle "
    "partition salt skew executor arrow vector batch lineage checkpoint "
    "resume iceberg parquet catalyst tungsten codegen broadcast"
).split()

_KIND_CYCLE = ("text", "text", "heading", "text", "table", "text", "image")

CATEGORY_NAMES = ["text", "heading", "table", "image"]
_KIND_TO_CAT = {k: i for i, k in enumerate(CATEGORY_NAMES)}

PAGE_W, PAGE_H = 1280, 1623  # matches the reference's golden page size


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _make_table_html(rng: random.Random) -> str:
    """Canonical table HTML (the form extraction serializes tables to)."""
    rows = rng.randint(2, 4)
    cols = rng.randint(2, 4)
    parts = ["<table>"]
    for r in range(rows):
        parts.append("<tr>")
        c = 0
        while c < cols:
            colspan = 2 if (c + 1 < cols and rng.random() < 0.15) else 1
            attrs = f' colspan="{colspan}"' if colspan > 1 else ""
            parts.append(f"<td{attrs}>{_words(rng, 1, 3)}</td>")
            c += colspan
        parts.append("</tr>")
    parts.append("</table>")
    return "".join(parts)


def gen_document(doc_index: int, seed: int = 42, skew_every: int = 500,
                 skew_factor: int = 60, empty_every: int = 211) -> dict:
    """Generate one document deterministically from (seed, doc_index)."""
    rng = random.Random((seed << 32) ^ doc_index)
    doc_id = f"doc_{doc_index:010d}"

    if empty_every and doc_index % empty_every == 17:
        n_spans = 0  # boilerplate-only document
    else:
        n_spans = rng.randint(3, 9)
        if skew_every and doc_index % skew_every == 0:
            n_spans *= skew_factor  # giant document (skew)

    spans: list[dict] = []
    for i in range(n_spans):
        kind = _KIND_CYCLE[rng.randrange(len(_KIND_CYCLE))]
        if kind == "image":
            spans.append({"kind": "image", "text": None,
                          "media_ref": f"media://{doc_id}/{i}", "offset": i})
        elif kind == "table":
            spans.append({"kind": "table", "text": _make_table_html(rng),
                          "media_ref": None, "offset": i})
        elif kind == "heading":
            spans.append({"kind": "heading", "text": _words(rng, 2, 6),
                          "media_ref": None, "offset": i})
        else:
            spans.append({"kind": "text", "text": _words(rng, 6, 30),
                          "media_ref": None, "offset": i})

    raw_html = _render_html(rng, doc_id, spans)
    pred_spans = _perturb_spans(rng, spans)
    gt_boxes, pred_boxes = _layout_boxes(rng, spans)
    return {
        "doc_id": doc_id,
        "spans": spans,
        "raw_html": raw_html,
        "pred_spans": pred_spans,
        "gt_boxes": gt_boxes,
        "pred_boxes": pred_boxes,
        "page_width": PAGE_W,
        "page_height": PAGE_H,
    }


def _render_html(rng: random.Random, doc_id: str, spans: list[dict]) -> str:
    """Wrap the true spans in boilerplate the extractor must strip."""
    nav_links = " ".join(
        f'<a href="/{w}">{w}</a>' for w in rng.sample(_WORDS, 4)
    )
    sidebar_items = "".join(
        f'<li><a href="/{w}">{w} {rng.choice(_WORDS)}</a></li>'
        for w in rng.sample(_WORDS, 5)
    )
    body: list[str] = [
        f"<nav>{nav_links}</nav>",
        f'<div class="sidebar"><ul>{sidebar_items}</ul></div>',
    ]
    content: list[str] = []
    for span in spans:
        k = span["kind"]
        if k == "heading":
            level = rng.choice(("h1", "h2", "h3"))
            content.append(f"<{level}> {span['text']} </{level}>")
        elif k == "text":
            content.append(f"<p>\n  {span['text']}\n</p>")
        elif k == "table":
            content.append(span["text"])
        elif k == "image":
            content.append(f'<img src="{span["media_ref"]}"/>')
        # Interleave ad blocks (must be stripped by class + link heuristics).
        if rng.random() < 0.2:
            w = rng.choice(_WORDS)
            content.append(
                f'<div class="ad-banner"><a href="/buy/{w}">Buy {w} now!</a></div>'
            )
    body.append(f'<main><article>{"".join(content)}</article></main>')
    body.append(
        '<footer><a href="/about">About</a> <a href="/privacy">Privacy</a>'
        " © 2026 example.org</footer>"
    )
    return (
        f"<html><head><title>{doc_id}</title>"
        "<style>body{margin:0}</style>"
        '<script>var t=1;</script></head>'
        f'<body>{"".join(body)}</body></html>'
    )


def _perturb_spans(rng: random.Random, spans: list[dict]) -> list[dict]:
    """Noisy prediction: token dropout/substitution, occasional span drop."""
    out: list[dict] = []
    for span in spans:
        if rng.random() < 0.03:
            continue  # dropped span
        s = dict(span)
        if s["text"] is not None and rng.random() < 0.6:
            toks = s["text"].split()
            mutated = []
            for t in toks:
                r = rng.random()
                if r < 0.05:
                    continue
                if r < 0.12:
                    mutated.append(rng.choice(_WORDS))
                else:
                    mutated.append(t)
            s["text"] = " ".join(mutated) if mutated else s["text"]
        out.append(s)
    for i, s in enumerate(out):
        s["offset"] = i
    return out


def _layout_boxes(rng: random.Random, spans: list[dict]):
    """One GT bbox per span stacked vertically; predictions jittered."""
    gt, pred = [], []
    y = 40.0
    for span in spans:
        h = {"heading": 40.0, "text": 90.0, "table": 160.0, "image": 120.0}[
            span["kind"]
        ]
        box = [60.0, y, 1220.0, min(y + h, PAGE_H - 1.0)]
        cat = _KIND_TO_CAT[span["kind"]]
        gt.append({"category_id": cat, "bbox": box, "score": None})
        if rng.random() < 0.95:  # occasional missed detection
            jitter = [rng.uniform(-8, 8) for _ in range(4)]
            pbox = [
                max(box[0] + jitter[0], 0.0),
                max(box[1] + jitter[1], 0.0),
                min(box[2] + jitter[2], float(PAGE_W)),
                min(box[3] + jitter[3], float(PAGE_H)),
            ]
            pcat = cat if rng.random() < 0.93 else rng.randrange(len(CATEGORY_NAMES))
            pred.append({"category_id": pcat, "bbox": pbox,
                         "score": round(rng.uniform(0.3, 1.0), 4)})
        y += h + 10.0
        if y >= PAGE_H - 60:
            y = 40.0
    return gt, pred


# ---------------------------------------------------------------------------
# Spark-side generation (no driver bottleneck, no shuffle)
# ---------------------------------------------------------------------------

SPANS_SCHEMA_DDL = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
BOXES_SCHEMA_DDL = (
    "array<struct<category_id:int,bbox:array<double>,score:double>>"
)
DOCUMENTS_SCHEMA_DDL = (
    "doc_id string, "
    f"spans {SPANS_SCHEMA_DDL}, "
    "raw_html string, "
    f"pred_spans {SPANS_SCHEMA_DDL}, "
    f"gt_boxes {BOXES_SCHEMA_DDL}, "
    f"pred_boxes {BOXES_SCHEMA_DDL}, "
    "page_width int, page_height int"
)


def generate_documents_df(spark, n_docs: int, seed: int = 42,
                          partitions: int | None = None, **kw):
    """Distributed deterministic generation: spark.range → mapInPandas."""
    import pandas as pd

    partitions = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen_batches(it):
        for pdf in it:
            rows = [gen_document(int(i), seed=seed, **kw) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen_batches, schema=DOCUMENTS_SCHEMA_DDL)
    )


def write_corpus(spark, path: str, n_docs: int, seed: int = 42, **kw) -> None:
    generate_documents_df(spark, n_docs, seed=seed, **kw).write.mode(
        "overwrite"
    ).parquet(path)
