"""TORE confusion-matrix report sink — the reference's Excel exporter
re-expressed as CSV/JSON table sinks.

Reference surface (confusion_matrix_exporter.py:107-165 ``build_ds_report``,
invoked from tore_layout_evaluator.py:280-320):

- a Dataset sheet: title / #images / #pixels header block, then five
  matrices at 3-decimal rounding — Confusion, Precision (column-normalized),
  Collapsed Precision (2×2 background vs ``all_classes``), Recall
  (row-normalized), Collapsed Recall — with all-zero rows/columns hidden;
- an Images sheet: one row per page with the COLLAPSED precision/recall/F1
  matrices flattened to a 12-vector under headers
  ``"{metric}: {cell}"`` for metric ∈ (Precision(GT/Pred), Recall(GT/Pred),
  F1(GT/Pred)) × cell ∈ (BG/BG, BG/cls, cls/BG, cls/cls)
  (tore_layout_evaluator.py:289-303).

Spark-first re-expression: the dataset matrices come from the engine's
partial+final path (per-doc partial UDF → salted element-wise array sum —
one tiny (C+1)² vector reaches the driver), written driver-side as one CSV
per matrix plus ``meta.json``; the per-image sheet is a DISTRIBUTED
``df.write.csv`` of a narrow per-page UDF — no collect of per-page rows.
openpyxl is not available in this environment and everything it added is
presentation (cell fills, borders, column widths, hidden-row flags): the
reference hides all-zero rows/cols by toggling Excel visibility with the
data still present (confusion_matrix_exporter.py:469-483), so this sink
keeps every row and records the hidden indices in ``meta.json``.
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint resolution (CLAUDE.md)

ALL_COLLAPSED_CLASSES_NAME = "all_classes"  # multi_label_confusion_matrix.py:64

# tore_layout_evaluator.py:281-288 — the Images sheet column headers
COLLAPSED_IMAGE_HEADERS = [
    f"{metric}: {cell}"
    for metric in ("Precision(GT/Pred)", "Recall(GT/Pred)", "F1(GT/Pred)")
    for cell in ("BG/BG", "BG/cls", "cls/BG", "cls/cls")
]

DATASET_TITLE = "Pixel-wise Multi-Label Confusion Matrix Evaluations"


def _write_matrix_csv(path: str, title: str, matrix: np.ndarray,
                      headers: list[str]) -> dict:
    """One matrix → one CSV (index column + header row, 3-decimal values,
    mirroring the exporter's ``pd.DataFrame(...).to_excel(index=True)`` at
    ``decimal_digits=3``). Returns the hidden all-zero row/col indices the
    Excel report would collapse."""
    data = np.round(np.asarray(matrix, dtype=float), 3)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow([title] + headers)
        for name, row in zip(headers, data):
            w.writerow([name] + [f"{v:.3f}" for v in row])
    return {
        "hidden_rows": np.nonzero(data.sum(axis=1) == 0)[0].tolist(),
        "hidden_cols": np.nonzero(data.sum(axis=0) == 0)[0].tolist(),
    }


def export_dataset_report(
    summed_matrix: np.ndarray,
    headers: list[str],
    num_images: int,
    num_pixels: int,
    out_dir: str,
    title: str = DATASET_TITLE,
) -> dict:
    """Write the Dataset report (reference ``build_ds_report`` content):
    five matrix CSVs + ``meta.json``. ``summed_matrix`` is the dataset
    (C+1)² confusion matrix from the salted array sum — tiny, driver-side
    by design (the reference renders the same single matrix)."""
    from docling_metrics_spark.kernels.layout import (
        collapsed_confusion_matrix,
        confusion_matrices,
    )

    os.makedirs(out_dir, exist_ok=True)
    cm = np.asarray(summed_matrix, dtype=float)
    precision_m, recall_m, _ = confusion_matrices(cm)
    collapsed = collapsed_confusion_matrix(cm)
    c_precision, c_recall, _ = confusion_matrices(collapsed)
    collapsed_headers = [headers[0], ALL_COLLAPSED_CLASSES_NAME]

    hidden = {}
    for fname, mtitle, matrix, hdrs in (
        ("confusion_matrix", "Confusion Matrix", cm, headers),
        ("precision_matrix", "Precision Matrix", precision_m, headers),
        ("collapsed_precision_matrix", "Collapsed Precision Matrix",
         c_precision, collapsed_headers),
        ("recall_matrix", "Recall matrix", recall_m, headers),
        ("collapsed_recall_matrix", "Collapsed Recall Matrix",
         c_recall, collapsed_headers),
    ):
        hidden[fname] = _write_matrix_csv(
            os.path.join(out_dir, f"{fname}.csv"), mtitle, matrix, hdrs
        )

    meta = {
        "title": title,
        "num_images": int(num_images),
        "num_pixels": int(num_pixels),
        "headers": headers,
        "collapsed_headers": collapsed_headers,
        "hidden": hidden,  # presentation-only in the reference (Excel row/col visibility)
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)
    return meta


def collapsed_vector_from_cm(cm: np.ndarray) -> list:
    """Per-page collapsed 12-vector (tore_layout_evaluator.py:289-303):
    collapse the (C+1)² matrix to background-vs-all 2×2, then flatten the
    precision/recall/F1 matrices in the exporter's header order
    (:data:`COLLAPSED_IMAGE_HEADERS`). UNROUNDED — callers round (the
    export sheet at 3 decimals; the registered query in-engine so its
    DuckDB oracle shares the rounding semantics)."""
    from docling_metrics_spark.kernels.layout import (
        collapsed_confusion_matrix,
        confusion_matrices,
    )

    pm, rm, fm = confusion_matrices(collapsed_confusion_matrix(cm))
    return np.stack(
        [pm.flatten(), rm.flatten(), fm.flatten()], axis=0
    ).flatten().tolist()


def make_image_vector_udf(n_classes: int, page_width: int, page_height: int):
    """Per-page collapsed 12-vector UDF (tore_layout_evaluator.py:289-303):
    rasterize → confusion matrix → collapse → flattened
    precision/recall/F1 matrices, in the exporter's header order."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType

    @F.pandas_udf(ArrayType(DoubleType()))
    def image_vector_udf(gt_boxes: pd.Series, pred_boxes: pd.Series) -> pd.Series:
        from docling_metrics_spark.kernels.layout import (
            confusion_matrix_from_masks,
            rasterize_multilabel,
        )
        from docling_metrics_spark.operators.udfs import _gt_tuples

        out = []
        for g, p in zip(gt_boxes, pred_boxes):
            gt_img = rasterize_multilabel(
                _gt_tuples(g), page_width, page_height, n_classes
            )
            pred_img = rasterize_multilabel(
                _gt_tuples(p), page_width, page_height, n_classes
            )
            cm = confusion_matrix_from_masks(gt_img, pred_img, n_classes)
            out.append(
                np.round(collapsed_vector_from_cm(cm), 3).tolist()
            )
        return pd.Series(out)

    return image_vector_udf


def make_image_vector_from_cm_udf(n_classes: int):
    """The sheet's 12-vector from an already-computed flattened matrix
    (the materialized table the TORE queries share) — UNROUNDED doubles;
    the registered query rounds in-engine (Spark round == DuckDB round,
    both HALF_UP) so the oracle can reproduce values exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType

    n_cm = n_classes + 1

    @F.pandas_udf(ArrayType(DoubleType()))
    def image_vector_from_cm_udf(cm_col: pd.Series) -> pd.Series:
        return pd.Series(
            [
                collapsed_vector_from_cm(
                    np.asarray(arr, dtype=float).reshape(n_cm, n_cm)
                )
                for arr in cm_col
            ]
        )

    return image_vector_from_cm_udf


def export_tore_report(
    spark,
    docs,
    out_dir: str,
    n_classes: int,
    page_width: int,
    page_height: int,
) -> dict:
    """End-to-end TORE report: dataset matrices (partial+final, one tiny
    vector to the driver) + per-image collapsed sheet (distributed CSV
    write — scales to any corpus size). Returns the dataset meta."""
    from pyspark.sql import functions as F

    from docling_metrics_spark.operators.skew import salted_array_sum
    from docling_metrics_spark.operators.udfs import make_tore_partial_udf

    partial_udf = make_tore_partial_udf(n_classes, page_width, page_height)
    partials = docs.select(
        F.col("doc_id"),
        partial_udf("gt_boxes", "pred_boxes").alias("cm"),
    )
    summed_rows = salted_array_sum(
        partials.select("cm"), "cm", with_count=True
    ).collect()
    n_cm = n_classes + 1
    # empty corpus → empty slot sum → all-zero matrix (report still valid)
    summed = summed_rows[0].summed if summed_rows and summed_rows[0].summed else []
    matrix = (
        np.asarray(summed, dtype=float).reshape(n_cm, n_cm)
        if summed
        else np.zeros((n_cm, n_cm))
    )

    # rides the slot-sum job (with_count) — no second count() job.
    # INVARIANT (ADVICE r4): n_rows counts rows via posexplode, which
    # skips null/empty cm arrays — correct ONLY because
    # make_tore_partial_udf emits a full (C+1)² array for EVERY document
    # (even boxless ones rasterize to an all-background page). A partial
    # UDF that could emit null/empty matrices would silently undercount
    # images here; tests/test_confusion_export.py pins the boxless case.
    num_images = int(summed_rows[0].n_rows) if summed_rows else 0
    headers = ["background"] + [f"cat_{k}" for k in range(n_classes)]
    meta = export_dataset_report(
        matrix,
        headers,
        num_images=num_images,
        num_pixels=num_images * page_width * page_height,
        out_dir=os.path.join(out_dir, "dataset"),
    )

    vec_udf = make_image_vector_udf(n_classes, page_width, page_height)
    image_rows = docs.select(
        F.col("doc_id"), vec_udf("gt_boxes", "pred_boxes").alias("v")
    ).select(
        "doc_id",
        *[
            F.col("v")[i].alias(h)
            for i, h in enumerate(COLLAPSED_IMAGE_HEADERS)
        ],
    )
    image_rows.write.mode("overwrite").option("header", "true").csv(
        os.path.join(out_dir, "images")
    )
    return meta
