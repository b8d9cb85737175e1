"""Vectorized pandas/Arrow UDFs wrapping the pure-Python kernels.

Per the input_hint mandate ("no per-row Python"), every kernel crosses the
JVM↔Python boundary through Arrow-batched pandas UDFs. The relational
skeleton around them (joins, filters, span ordering, equality, aggregation)
stays JVM-side in whole-stage codegen.

Reference lifecycle mapping (SURVEY.md §3.1): the reference's per-worker
constructor state (nltk downloads, HF evaluator init,
docling_metrics_text.py:48-64) becomes module import on the executor's
Python worker — these kernels are dependency-free, so init cost is nil.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from docling_metrics_spark.extraction.html_extract import extract_spans_from_html
from docling_metrics_spark.kernels.datagen_meta import (
    N_CATEGORIES,
    TORE_PAGE_H,
    TORE_PAGE_W,
)
from docling_metrics_spark.kernels.layout import (
    confusion_matrix_from_masks,
    evaluate_map_docs,
    rasterize_multilabel,
)
from docling_metrics_spark.kernels.minhash import (
    char_shingle_hashes,
    minhash_signature,
    simhash,
)
from docling_metrics_spark.kernels.teds import (
    TableNode,
    html_to_bracket,
    html_to_tree,
    normalize_spans,
    tree_edit_distance,
)
from docling_metrics_spark.kernels.textmetrics import evaluate_text_pair

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)
SPANS_TYPE = ArrayType(SPAN_STRUCT)

TEXT_SCORES_TYPE = StructType(
    [
        StructField("f1_score", DoubleType()),
        StructField("precision_score", DoubleType()),
        StructField("recall_score", DoubleType()),
        StructField("edit_distance_score", DoubleType()),
        StructField("bleu_score", DoubleType()),
        StructField("meteor_score", DoubleType()),
    ]
)

TEDS_DOC_TYPE = StructType(
    [
        StructField("teds_mean", DoubleType()),
        StructField("n_tables_gt", IntegerType()),
        StructField("n_tables_pred", IntegerType()),
        StructField("n_pairs", IntegerType()),
        StructField("error_count", IntegerType()),
    ]
)

# Core surface for the flagship hot path: only the fields the pipeline
# keeps (all-area map/50/75 + mar_100). Catalyst cannot prune inside a
# pandas UDF, so the pruning happens here — the kernel skips the
# small/medium/large buckets, mar_1/10, and per-class dicts entirely.
MAP_CORE_TYPE = StructType(
    [
        StructField("map", DoubleType()),
        StructField("map_50", DoubleType()),
        StructField("map_75", DoubleType()),
        StructField("mar_100", DoubleType()),
    ]
)


def _sorted_json(d: dict) -> str:
    """Deterministic key-sorted compact JSON for per-class dict columns."""
    import json

    return json.dumps(d, sort_keys=True, separators=(",", ":"))


def _fmt6_half_up(v: float) -> str:
    """``%.6f`` with explicit HALF_UP rounding on the double's exact decimal
    expansion — the semantics of Spark's ``round()`` (BigDecimal HALF_UP)
    and DuckDB's ``round()``, NOT Python's banker's rounding (the CLAUDE.md
    .5-edge pitfall). Used for per-class JSON values so a DuckDB oracle can
    reproduce them byte-for-byte with ``printf('%.6f', round(v, 6))``."""
    from decimal import ROUND_HALF_UP, Decimal

    return f"{float(Decimal(v).quantize(Decimal('0.000001'), ROUND_HALF_UP)):.6f}"


def _sorted_json6(d: dict) -> str:
    """Key-sorted JSON with values as HALF_UP ``%.6f`` strings — the
    cross-engine-stable variant of :func:`_sorted_json` (float repr is not
    reproducible in SQL; a fixed-width decimal string is)."""
    return _sorted_json({k: _fmt6_half_up(v) for k, v in d.items()})


TOKEN_PAIR_TYPE = StructType(
    [
        StructField("tokens_a", ArrayType(StringType())),
        StructField("tokens_b", ArrayType(StringType())),
        StructField("enc_a", StringType()),
        StructField("enc_b", StringType()),
        # tokenizer failure → the kernel's all-(-1) sentinel row; the
        # oracle mirrors the flag so the error channel is cross-engine too
        StructField("tok_err", BooleanType()),
    ]
    + list(TEXT_SCORES_TYPE.fields)
)


def _encode_token_pair(
    tokens_a: list[str], tokens_b: list[str]
) -> tuple[str | None, str | None]:
    """Map each distinct token of the pair to ONE SINGLE-BYTE char
    (0x01–0x7F) so the token sequences become strings whose byte-level
    Levenshtein equals the token-level distance — DuckDB's ``levenshtein``
    is byte-based (a 3-byte CJK substitution costs up to 3 and alignments
    may split multi-byte chars), so only a 1-byte-per-token alphabet makes
    the oracle exact. Pairs with more than 127 distinct tokens return
    ``(None, None)``: no encoding, the oracle cannot check that row (the
    bounded 100-pair query's corpus maxes out at ~31)."""
    vocab: dict[str, str] = {}
    for tok in tokens_a:
        if tok not in vocab:
            vocab[tok] = chr(1 + len(vocab)) if len(vocab) < 127 else ""
    for tok in tokens_b:
        if tok not in vocab:
            vocab[tok] = chr(1 + len(vocab)) if len(vocab) < 127 else ""
    if "" in vocab.values():
        return None, None
    return (
        "".join(vocab[t] for t in tokens_a),
        "".join(vocab[t] for t in tokens_b),
    )


@F.pandas_udf(TOKEN_PAIR_TYPE)
def token_pair_udf(text_a: pd.Series, text_b: pd.Series) -> pd.DataFrame:
    """Tokenize + encode + score in ONE Arrow crossing: emits the token
    arrays, the codepoint-encoded token strings, and the six text metrics.
    The materialized (tokens, encodings) are the shared input from which
    the DuckDB oracle independently re-derives every score column."""
    from docling_metrics_spark.kernels.textmetrics import (
        DEFAULT_ERROR_SCORE,
        TextPairScores,
        evaluate_token_pair,
    )
    from docling_metrics_spark.kernels.tokenize import treebank_tokenize

    rows = []
    for a, b in zip(text_a, text_b):
        try:
            ta = treebank_tokenize(a if a is not None else "")
            tb = treebank_tokenize(b if b is not None else "")
        except Exception:
            # same error channel as evaluate_text_pair: one bad row
            # degrades one row (all-sentinel), never the task
            rows.append(
                {"tokens_a": [], "tokens_b": [], "enc_a": None,
                 "enc_b": None, "tok_err": True}
                | TextPairScores(*([DEFAULT_ERROR_SCORE] * 6)).__dict__
            )
            continue
        ea, eb = _encode_token_pair(ta, tb)
        rows.append(
            {"tokens_a": ta, "tokens_b": tb, "enc_a": ea, "enc_b": eb,
             "tok_err": False}
            | evaluate_token_pair(ta, tb).__dict__
        )
    return pd.DataFrame(rows)


def _doc_teds_pairs(gt_tables: list[str] | None,
                    pred_tables: list[str] | None,
                    to_tree=html_to_tree) -> list[dict]:
    """Order-paired per-pair TEDS rows for one document:
    ``[{idx, score, err}]`` — the long form :func:`_doc_teds` aggregates
    and the pairs-materializing queries persist so a DuckDB oracle can
    re-derive the doc-level aggregation.

    Tables are paired by order of appearance (the i-th GT table vs the i-th
    predicted table); unpaired tables score 0 — analogous to the reference's
    missing-prediction default semantics (data_loader.py:122-134).
    ``to_tree`` selects the per-table input mode (HTML direct vs
    cells-canonicalized) — the same pairing/error semantics serve both."""
    # Arrow hands array columns to Python as numpy arrays.
    gt_tables = list(gt_tables) if gt_tables is not None else []
    pred_tables = list(pred_tables) if pred_tables is not None else []
    n = max(len(gt_tables), len(pred_tables))
    # Per-document tree memo: an unperturbed prediction table is the same
    # HTML string as its GT twin, so the parse runs once per distinct
    # table and the pair scores TED 0 without a DP. ValueError is memoized
    # as None so the error-sentinel semantics are unchanged.
    trees: dict[str, tuple | None] = {}

    def _tree(html: str | None) -> tuple | None:
        # a table span may legally carry NULL text (SPAN_STRUCT is
        # nullable) — route it to the error sentinel, never a TypeError
        # that would kill the task
        if html is None:
            return None
        if html not in trees:
            try:
                tree = normalize_spans(to_tree(html))
                trees[html] = (tree, tree.size())
            except ValueError:
                trees[html] = None
        return trees[html]

    rows: list[dict] = []
    for i in range(n):
        if i >= len(gt_tables) or i >= len(pred_tables):
            rows.append({"idx": i, "score": 0.0, "err": False})
            continue
        ta, tb = _tree(gt_tables[i]), _tree(pred_tables[i])
        if ta is None or tb is None:
            rows.append({"idx": i, "score": 0.0, "err": True})
            continue
        dist = 0.0 if ta is tb else tree_edit_distance(ta[0], tb[0])
        rows.append({"idx": i, "score": 1.0 - dist / max(ta[1], tb[1]),
                     "err": False})
    return rows


def _doc_teds(gt_tables: list[str] | None,
              pred_tables: list[str] | None) -> dict:
    """Doc-level aggregate of :func:`_doc_teds_pairs` in HTML input mode
    (mean over pairs including the 0.0 unpaired rows, table/pair/error
    counts)."""
    gt = list(gt_tables) if gt_tables is not None else []
    pred = list(pred_tables) if pred_tables is not None else []
    rows = _doc_teds_pairs(gt, pred)
    if not rows:
        return {
            "teds_mean": None,
            "n_tables_gt": 0,
            "n_tables_pred": 0,
            "n_pairs": 0,
            "error_count": 0,
        }
    return {
        "teds_mean": sum(r["score"] for r in rows) / len(rows),
        "n_tables_gt": len(gt),
        "n_tables_pred": len(pred),
        "n_pairs": min(len(gt), len(pred)),
        "error_count": sum(1 for r in rows if r["err"]),
    }


TEDS_PAIR_DETAIL_TYPE = ArrayType(
    StructType(
        [
            StructField("idx", IntegerType()),
            StructField("score", DoubleType()),
            StructField("err", BooleanType()),
        ]
    )
)


@F.pandas_udf(TEDS_PAIR_DETAIL_TYPE)
def teds_pairs_detail_udf(gt_tables: pd.Series, pred_tables: pd.Series) -> pd.Series:
    """Per-pair TEDS rows (HTML input mode) — the long form the
    pairs-materializing query explodes and persists."""
    return pd.Series(
        [_doc_teds_pairs(g, p) for g, p in zip(gt_tables, pred_tables)]
    )


@F.pandas_udf(TEDS_PAIR_DETAIL_TYPE)
def teds_cells_pairs_detail_udf(
    gt_tables: pd.Series, pred_tables: pd.Series
) -> pd.Series:
    """Per-pair TEDS rows through the CELLS input mode (reference
    docling_metrics_table.py:190-199): each table's HTML is parsed to the
    GriTS cell schema, re-serialized through cells_to_html
    canonicalization, and only then TEDS-scored. Pairing and error
    semantics are shared with the HTML mode via :func:`_doc_teds_pairs`."""
    from docling_metrics_spark.kernels.grits import cells_to_html, html_to_cells

    def via_cells(html: str) -> TableNode:
        return html_to_tree(cells_to_html(html_to_cells(html)))

    return pd.Series(
        [
            _doc_teds_pairs(g, p, to_tree=via_cells)
            for g, p in zip(gt_tables, pred_tables)
        ]
    )


def _gt_tuples(boxes) -> list:
    """array<struct> GT box column → [(category_id, xyxy)] kernel input."""
    return [
        (int(b["category_id"]), list(b["bbox"]))
        for b in (boxes if boxes is not None else [])
    ]


def _pred_tuples(boxes) -> list:
    """array<struct> prediction box column → [(category_id, xyxy, score)]."""
    return [
        (int(b["category_id"]), list(b["bbox"]), float(b["score"]))
        for b in (boxes if boxes is not None else [])
    ]


# Fused flagship surface: extraction + all three metric families from ONE
# Arrow crossing. The unfused plan ran two chained ArrowEvalPython stages
# (extract, then the three scoring UDFs co-evaluated together), each with
# its own worker pool and Arrow serialization — and the extracted span
# array crossed the boundary twice (Python→JVM for the equality check,
# JVM→Python again as derived text). Fusing keeps the per-batch Python
# work identical while paying the boundary once. That work is ~2.9 ms/doc
# on one core (2,000-doc flagship corpus, 4-CPU x86 host): each table is
# parsed once by extraction and once for TEDS, and mAP is matched once
# per Arrow batch.
FLAGSHIP_TYPE = StructType(
    [StructField("extracted", SPANS_TYPE)]
    + list(TEXT_SCORES_TYPE.fields)
    + list(TEDS_DOC_TYPE.fields)
    + list(MAP_CORE_TYPE.fields)
)


@F.pandas_udf(FLAGSHIP_TYPE)
def flagship_doc_udf(
    raw_html: pd.Series,
    pred_text: pd.Series,
    pred_tables: pd.Series,
    gt_boxes: pd.Series,
    pred_boxes: pd.Series,
) -> pd.DataFrame:
    """One-pass flagship scoring: HTML → spans, then text/TEDS/mAP-core
    against the JVM-pruned prediction columns. The extracted spans are
    returned for the JVM-native ``eqNullSafe`` span-sequence equality check;
    gt-side text/tables are derived here (same ordering semantics as the
    JVM ``_span_text``/``_table_htmls``: non-null-text spans sorted by
    offset, space-joined; table spans sorted by offset)."""
    map_sentinel = {k: -1.0 for k in ("map", "map_50", "map_75", "mar_100")}
    rows, boxes = [], []
    for html, ptxt, ptabs, g, p in zip(
        raw_html, pred_text, pred_tables, gt_boxes, pred_boxes
    ):
        extracted = extract_spans_from_html(html if html is not None else "")
        gt_text = " ".join(
            s["text"]
            for s in sorted(
                (s for s in extracted if s["text"] is not None),
                key=lambda s: s["offset"],
            )
        )
        # exactly `_table_htmls` semantics: kind filter only (a table span
        # with NULL text stays in the list and pairs positionally; the
        # tree memo routes it to the error sentinel)
        gt_tables = [
            s["text"]
            for s in sorted(
                (s for s in extracted if s["kind"] == "table"),
                key=lambda s: s["offset"],
            )
        ]
        row: dict = {"extracted": extracted}
        row.update(
            evaluate_text_pair(gt_text, ptxt if ptxt is not None else "").__dict__
        )
        row.update(_doc_teds(gt_tables, ptabs))
        rows.append(row)
        boxes.append((_gt_tuples(g), _pred_tuples(p)))
    # every document's mAP groups of the batch go through one matcher call;
    # a refused document gets the sentinel in its own row only
    for row, layout in zip(rows, evaluate_map_docs(boxes, surface="core")):
        row.update(map_sentinel if layout is None else layout)
    return pd.DataFrame(rows)


@F.pandas_udf(ArrayType(DoubleType()))
def tore_partial_udf(gt_boxes: pd.Series, pred_boxes: pd.Series) -> pd.Series:
    """Per-document flattened confusion-matrix partial (ARRAY<DOUBLE>) on
    the ``TORE_PAGE_W`` × ``TORE_PAGE_H`` raster — the only TORE code that
    rasterizes.

    The dataset-level matrix is then :func:`slot_sum` over the pages —
    the partial+final pattern of the reference's TORE dataset aggregation
    (tore_layout_evaluator.py:224-245) mapped onto Spark's native two-stage
    aggregation — and every metric comes from :func:`tore_metrics_udf`."""
    out = []
    for g, p in zip(gt_boxes, pred_boxes):
        # TORE rasterization is score-free: both sides use the
        # (category_id, bbox) shape
        gt_img = rasterize_multilabel(
            _gt_tuples(g), TORE_PAGE_W, TORE_PAGE_H, N_CATEGORIES
        )
        pred_img = rasterize_multilabel(
            _gt_tuples(p), TORE_PAGE_W, TORE_PAGE_H, N_CATEGORIES
        )
        cm = confusion_matrix_from_masks(gt_img, pred_img, N_CATEGORIES)
        out.append(cm.ravel().tolist())
    return pd.Series(out)


def slot_sum(array_col: str, n_slots: int) -> Column:
    """Element-wise sum of an ARRAY<DOUBLE> column as one aggregate
    expression: a keyless ``agg`` of it is Spark's partial aggregate per
    task, one Exchange, one final aggregate. The TORE slots hold pixel
    counts (integer-valued doubles below 2^53), so the sum is exact in any
    order. An empty input sums to zeros, not NULLs."""
    return F.array(
        *[F.coalesce(F.sum(F.col(array_col)[i]), F.lit(0.0))
          for i in range(n_slots)]
    )


TORE_METRICS_TYPE = StructType(
    [
        StructField("precision_mean", DoubleType()),
        StructField("recall_mean", DoubleType()),
        StructField("f1_mean", DoubleType()),
        StructField("collapsed_precision_mean", DoubleType()),
        StructField("collapsed_recall_mean", DoubleType()),
        StructField("collapsed_f1_mean", DoubleType()),
        # key-sorted JSON strings, not MapType (VERDICT r2 #1)
        StructField("classes_precision", StringType()),
        StructField("classes_recall", StringType()),
        StructField("classes_f1", StringType()),
        StructField("total_weight", DoubleType()),
        # the report's Images-sheet row, unrounded
        StructField("collapsed_vector", ArrayType(DoubleType())),
    ]
)


@F.pandas_udf(TORE_METRICS_TYPE)
def tore_metrics_udf(cm_col: pd.Series) -> pd.DataFrame:
    """Every TORE metric of one flattened (C+1)² confusion matrix — a
    page's own (reference evaluate_sample, tore_layout_evaluator.py:
    145-167) or the dataset sum (:242-245). C+1 is the square root of the
    array length.

    Fields: detailed and background-vs-all collapsed P/R/F1 means and the
    per-class dicts (multi_label_confusion_matrix.py:396-488), the matrix
    total, and ``collapsed_vector``: the collapsed precision/recall/F1
    matrices flattened in the exporter's header order
    (export.COLLAPSED_IMAGE_HEADERS, tore_layout_evaluator.py:289-303).
    Unrounded; callers round in-engine, so Spark and the DuckDB oracles
    share one HALF_UP rule."""
    import numpy as np

    from docling_metrics_spark.kernels.layout import (
        collapsed_confusion_matrix,
        confusion_matrices,
        confusion_metrics,
        confusion_per_class,
    )

    rows = []
    for arr in cm_col:
        n_cm = math.isqrt(len(arr))
        cm = np.asarray(arr, dtype=float).reshape(n_cm, n_cm)
        collapsed = collapsed_confusion_matrix(cm)
        m = confusion_metrics(cm)
        m.update(
            {f"collapsed_{k}": v for k, v in confusion_metrics(collapsed).items()}
        )
        # HALF_UP %.6f string values so the DuckDB oracle can rebuild
        # the same JSON from the materialized matrix cells (VERDICT r3 #1a)
        m.update(
            {k: _sorted_json6(v) for k, v in confusion_per_class(cm).items()}
        )
        m["total_weight"] = float(cm.sum())
        m["collapsed_vector"] = np.concatenate(
            [x.ravel() for x in confusion_matrices(collapsed)]
        ).tolist()
        rows.append(m)
    return pd.DataFrame(rows, columns=TORE_METRICS_TYPE.fieldNames())


@F.pandas_udf(LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    """64-bit SimHash as BIGINT (two's-complement view of the uint64), so
    block extraction (shiftrightunsigned) and hamming verification
    (bit_count(xor)) stay JVM-side — no hex-string round-trip."""
    import numpy as np

    vals = np.array(
        [simhash((t or "").split()) for t in text], dtype=np.uint64
    )
    return pd.Series(vals.view("int64"))


#: The SRP-LSH hyperplanes [tables T, planes per table P, embedding dim],
#: drawn from a fixed seed so that every worker draws the same ones.
LSH_PLANES = np.random.RandomState(42).randn(24, 4, 64)


@F.pandas_udf(ArrayType(IntegerType()))
def multi_lsh_buckets_udf(emb: pd.Series) -> pd.Series:
    """OR-amplified SRP-LSH: one integer bucket id per table of
    ``LSH_PLANES`` (bits packed small-endian). Emitting all tables from one
    Arrow batch keeps the Python crossing to a single UDF; the posexplode
    into (table, bucket) rows is JVM-side."""
    weights = (1 << np.arange(LSH_PLANES.shape[1])).astype(np.int64)  # [P]
    mat = np.stack(emb.to_numpy())  # [n, dim]
    # [n, T, P] signs → packed ints [n, T]
    bits = np.einsum("nd,tpd->ntp", mat, LSH_PLANES) > 0
    buckets = (bits.astype(np.int64) * weights[None, None, :]).sum(axis=2)
    return pd.Series(list(buckets.astype(np.int32)))


#: MinHash signature width, shared by the UDF and the dedup query's estimate.
MINHASH_PERMS = 128


@F.pandas_udf(ArrayType(LongType()))
def minhash_sig_udf(text: pd.Series) -> pd.Series:
    """MinHash signature as array<bigint> (uint64 bit-view), so banding,
    bucket hashing, and pairwise verification all stay JVM-side."""
    out = []
    for t in text:
        sig = minhash_signature(char_shingle_hashes(t or "", 5), MINHASH_PERMS)
        out.append(sig.view("int64").tolist())
    return pd.Series(out)


GRITS_PAIR_DETAIL_TYPE = ArrayType(
    StructType(
        [
            StructField("idx", IntegerType()),
            StructField("err", BooleanType()),
            StructField("total_top", DoubleType()),
            StructField("total_con", DoubleType()),
            StructField("total_loc", DoubleType()),
            StructField("na", IntegerType()),
            StructField("nb", IntegerType()),
            StructField("nca", IntegerType()),
            StructField("ncb", IntegerType()),
        ]
    )
)


@F.pandas_udf(GRITS_PAIR_DETAIL_TYPE)
def grits_pairs_detail_udf(
    gt_tables: pd.Series, pred_tables: pd.Series
) -> pd.Series:
    """Per-document GriTS over order-paired table-span HTML lists, in long
    form: html→cells (stack walk with colspan placement, reference pattern
    grits.py:487-534), then per pair the un-normalized 2D-MSS reward
    totals and grid/cell cardinalities for all three tasks — materialized
    so a DuckDB oracle re-derives the f-score normalization
    (2·total/(na+nb) with the empty-grid edge cases) and the doc-level
    means. The alignment itself stays kernel-side."""
    from docling_metrics_spark.kernels.grits import grits_detail, html_to_cells

    out = []
    for gts, prs in zip(gt_tables, pred_tables):
        gts = list(gts) if gts is not None else []
        prs = list(prs) if prs is not None else []
        pairs = []
        for i in range(min(len(gts), len(prs))):
            try:
                ca, cb = html_to_cells(gts[i]), html_to_cells(prs[i])
            except ValueError:
                # malformed table HTML → scored 0, mirroring the
                # reference's error-sentinel semantics
                pairs.append(
                    {"idx": i, "err": True, "total_top": 0.0,
                     "total_con": 0.0, "total_loc": 0.0,
                     "na": 0, "nb": 0, "nca": 0, "ncb": 0}
                )
                continue
            t_top, na, nb = grits_detail(ca, cb, "topology")
            t_con, _, _ = grits_detail(ca, cb, "content")
            t_loc, _, _ = grits_detail(ca, cb, "location")
            pairs.append(
                {"idx": i, "err": False, "total_top": t_top,
                 "total_con": t_con, "total_loc": t_loc,
                 "na": na, "nb": nb, "nca": len(ca), "ncb": len(cb)}
            )
        out.append(pairs)
    return pd.Series(out)


MATCH_STATS_TYPE = ArrayType(
    StructType(
        [
            StructField("cls", IntegerType()),
            StructField("thr_idx", IntegerType()),
            StructField("area", StringType()),
            StructField("scores", ArrayType(DoubleType())),
            StructField("tp", ArrayType(IntegerType())),
            StructField("n_gt", IntegerType()),
            StructField("n_tp", IntegerType()),
            StructField("tp_md1", IntegerType()),
            StructField("tp_md10", IntegerType()),
            StructField("ap", DoubleType()),
        ]
    )
)


@F.pandas_udf(MATCH_STATS_TYPE)
def match_stats_udf(gt_boxes: pd.Series, pred_boxes: pd.Series) -> pd.Series:
    """Per-document COCO matching partials (kernels.layout.match_stats_docs):
    one entry per (class, threshold, area), the rows both the per-document
    ``layout_map`` surface and the pooled ``layout_map_dataset`` derive
    from. Kernel refusals (hostile box counts) emit an empty list, so the
    document scores the per-doc sentinel and adds nothing to the dataset
    pools instead of failing the task."""
    from docling_metrics_spark.kernels.layout import match_stats_docs

    docs = [(_gt_tuples(g), _pred_tuples(p)) for g, p in zip(gt_boxes, pred_boxes)]
    return pd.Series([[] if st is None else st for st in match_stats_docs(docs)])


POOLED_AP_SCHEMA = (
    "cls int, thr_idx int, area string, ap double, "
    "ar_1 double, ar_10 double, ar_100 double, n_gt bigint"
)


def pooled_ap_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per (class, threshold, area) group: pool all documents' (score, tp)
    pairs, compute AP over the globally sorted pool + pooled recalls at
    maxdet 1/10/100. NaN→None so downstream avg() null-skips empty pools.
    The documents are concatenated in ``doc_id`` order, whatever order the
    shuffle delivers them in (the tie rule of
    :func:`~docling_metrics_spark.kernels.layout.pooled_average_precision`)."""
    import math

    import numpy as np

    from docling_metrics_spark.kernels.layout import pooled_average_precision

    pdf = pdf.sort_values("doc_id", kind="stable")
    scores = np.concatenate([np.asarray(s, dtype=float) for s in pdf["scores"]]) \
        if len(pdf) else np.empty(0)
    tp = np.concatenate([np.asarray(t, dtype=int) for t in pdf["tp"]]) \
        if len(pdf) else np.empty(0, dtype=int)
    n_gt = int(pdf["n_gt"].sum())
    ap = pooled_average_precision(scores, tp, n_gt)

    def _nn(v):
        return None if (v is None or (isinstance(v, float) and math.isnan(v))) else float(v)

    recs = (
        (None, None, None)
        if n_gt == 0
        else (
            float(pdf["tp_md1"].sum()) / n_gt,
            float(pdf["tp_md10"].sum()) / n_gt,
            float(tp.sum()) / n_gt,
        )
    )
    return pd.DataFrame(
        [
            {
                "cls": int(pdf["cls"].iloc[0]),
                "thr_idx": int(pdf["thr_idx"].iloc[0]),
                "area": str(pdf["area"].iloc[0]),
                "ap": _nn(ap),
                "ar_1": recs[0],
                "ar_10": recs[1],
                "ar_100": recs[2],
                "n_gt": n_gt,
            }
        ]
    )


MARKUSH_TYPE = StructType(
    [
        StructField("valid", BooleanType()),
        StructField("tanimoto", DoubleType()),
        StructField("tanimoto1", BooleanType()),
        StructField("inchi_equality", BooleanType()),
        StructField("string_equality", BooleanType()),
        StructField("r", DoubleType()),
        StructField("m", DoubleType()),
        StructField("sg", DoubleType()),
        StructField("num_fragments_gt", IntegerType()),
        StructField("num_fragments_pred", IntegerType()),
        StructField("num_fragments_equal", BooleanType()),
        StructField("cxsmi_equality", BooleanType()),
    ]
)


@F.pandas_udf(MARKUSH_TYPE)
def markush_pair_udf(gt_cx: pd.Series, pred_cx: pd.Series) -> pd.DataFrame:
    """Per-pair Markush CXSMILES quality (reference
    molecule_scores.py:176-666 surface; r/m/sg are nullable doubles so the
    aggregate's null-skipping avg() reproduces the conditional means)."""
    from docling_metrics_spark.kernels.markush import evaluate_markush_pair

    rows = []
    for g, p in zip(gt_cx, pred_cx):
        s = evaluate_markush_pair(g, None if p is None else p)
        rows.append({k: s[k] for k in (
            "valid", "tanimoto", "tanimoto1", "inchi_equality",
            "string_equality", "r", "m", "sg", "num_fragments_gt",
            "num_fragments_pred", "num_fragments_equal", "cxsmi_equality",
        )})
    return pd.DataFrame(rows)


TREE_STATS_TYPE = StructType(
    [
        StructField("bracket", StringType()),
        StructField("n_nodes", IntegerType()),
        StructField("hist", MapType(StringType(), IntegerType())),
    ]
)


@F.pandas_udf(TREE_STATS_TYPE)
def table_tree_stats_udf(html: pd.Series) -> pd.DataFrame:
    """Per-table tree statistics for the TEDS similarity join: bracket
    serialization, node count, and tag histogram (the label histogram of
    the reference's HJoin candidate index, cpp_src/join/histogram/
    histo_join_ti.h — Li et al.'s HJoin with Kailing's label lower bound)."""
    from collections import Counter

    from docling_metrics_spark.kernels.teds import bracket_to_tree

    rows = []
    for h in html:
        try:
            b = html_to_bracket(h)
            tree = bracket_to_tree(b)
            hist: Counter = Counter()
            stack = [tree]
            while stack:
                node = stack.pop()
                hist[node.tag] += 1
                stack.extend(node.children)
            rows.append(
                {"bracket": b, "n_nodes": tree.size(), "hist": dict(hist)}
            )
        except ValueError:
            rows.append({"bracket": None, "n_nodes": 0, "hist": {}})
    return pd.DataFrame(rows)


TEDS_BRACKET_DETAIL_TYPE = StructType(
    [
        # the ZSS DP accumulates float costs; integral-valued for unit
        # costs but double-typed to match the kernel's return
        StructField("dist", DoubleType()),
        StructField("na", IntegerType()),
        StructField("nb", IntegerType()),
        StructField("err", BooleanType()),
    ]
)


@F.pandas_udf(TEDS_BRACKET_DETAIL_TYPE)
def teds_bracket_detail_udf(
    bracket_a: pd.Series, bracket_b: pd.Series
) -> pd.DataFrame:
    """Un-normalized TED triple per bracket pair — materialized so a SQL
    oracle re-derives TEDS = 1 − dist/max(na, nb) (error rows → 0.0)."""
    from docling_metrics_spark.kernels.teds import teds_detail_from_brackets

    rows = []
    for a, b in zip(bracket_a, bracket_b):
        if a is None or b is None:
            rows.append({"dist": 0.0, "na": 0, "nb": 0, "err": True})
            continue
        try:
            dist, na, nb = teds_detail_from_brackets(a, b)
            rows.append(
                {"dist": float(dist), "na": na, "nb": nb, "err": False}
            )
        except ValueError:
            rows.append({"dist": 0.0, "na": 0, "nb": 0, "err": True})
    return pd.DataFrame(rows)
