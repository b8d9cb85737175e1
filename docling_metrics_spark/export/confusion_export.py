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

Spark-first re-expression: each page is rasterized once, to its (C+1)²
confusion matrix. The per-image sheet is a DISTRIBUTED ``df.write.csv`` of
each page's collapsed 12-vector — no collect of per-page rows — and that
same job observes the element-wise slot sum, so one tiny (C+1)² vector
reaches the driver, which writes one CSV per dataset matrix plus
``meta.json``.
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
) -> dict:
    """Write the Dataset report (reference ``build_ds_report`` content),
    titled ``DATASET_TITLE``: five matrix CSVs + ``meta.json``.
    ``summed_matrix`` is the dataset (C+1)² confusion matrix from the slot
    sum — tiny, driver-side (the reference renders the same matrix)."""
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
        "title": DATASET_TITLE,
        "num_images": int(num_images),
        "num_pixels": int(num_pixels),
        "headers": headers,
        "collapsed_headers": collapsed_headers,
        "hidden": hidden,  # presentation-only in the reference (Excel row/col visibility)
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)
    return meta


def export_tore_report(spark, docs, out_dir: str) -> dict:
    """End-to-end TORE report in ONE Spark job over ONE rasterizing pass:
    the per-image sheet is a distributed CSV write of each page's collapsed
    12-vector, and that same write observes the dataset slot sum and the
    page count (an ``Observation``: per-task partials, merged on the
    driver), from which the dataset matrices are written driver-side.
    Returns the dataset meta."""
    from pyspark.sql import Observation, functions as F

    from docling_metrics_spark.kernels.datagen_meta import (
        N_CATEGORIES,
        TORE_PIXELS,
    )
    from docling_metrics_spark.operators.udfs import (
        slot_sum,
        tore_metrics_udf,
        tore_partial_udf,
    )

    n_cm = N_CATEGORIES + 1
    dataset = Observation()
    pages = docs.select(
        "doc_id", tore_partial_udf("gt_boxes", "pred_boxes").alias("cm")
    ).observe(
        dataset,
        slot_sum("cm", n_cm * n_cm).alias("summed"),
        F.count("*").alias("n_rows"),
    )
    image_rows = pages.select(
        "doc_id", tore_metrics_udf("cm").collapsed_vector.alias("v")
    ).select(
        "doc_id",
        *[
            F.round(F.col("v")[i], 3).alias(h)
            for i, h in enumerate(COLLAPSED_IMAGE_HEADERS)
        ],
    )
    image_rows.write.mode("overwrite").option("header", "true").csv(
        os.path.join(out_dir, "images")
    )

    observed = dataset.get
    num_images = int(observed["n_rows"])
    headers = ["background"] + [f"cat_{k}" for k in range(N_CATEGORIES)]
    return export_dataset_report(
        np.asarray(observed["summed"], dtype=float).reshape(n_cm, n_cm),
        headers,
        num_images=num_images,
        num_pixels=num_images * TORE_PIXELS,
        out_dir=os.path.join(out_dir, "dataset"),
    )
