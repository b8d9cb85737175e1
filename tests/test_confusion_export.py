"""Golden tests for the TORE confusion-matrix report sink — the CSV/JSON
re-expression of the reference's Excel exporter
(confusion_matrix_exporter.py:107-165; content only, styling is
presentation)."""

import csv
import glob
import json
import os

import numpy as np
from pyspark.sql import functions as F

from docling_metrics_spark.datagen import (
    BOXES_SCHEMA_DDL,
    gen_document,
    generate_documents_df,
)
from docling_metrics_spark.export.confusion_export import (
    COLLAPSED_IMAGE_HEADERS,
    export_tore_report,
)
from docling_metrics_spark.kernels.datagen_meta import (
    N_CATEGORIES,
    TORE_PAGE_H,
    TORE_PAGE_W,
    TORE_PIXELS,
)
from docling_metrics_spark.kernels.layout import (
    collapsed_confusion_matrix,
    confusion_matrices,
    confusion_matrix_from_masks,
    confusion_metrics,
    rasterize_multilabel,
)
from docling_metrics_spark.plans.queries import _scale_boxes_half

N_DOCS = 30


def _boxes(doc, key):
    return [
        (int(b["category_id"]), [v / 2.0 for v in b["bbox"]])
        for b in doc[key]
    ]


def _local_dataset_matrix():
    total = np.zeros((N_CATEGORIES + 1, N_CATEGORIES + 1))
    per_doc = {}
    for d in map(gen_document, range(N_DOCS)):
        gt_img = rasterize_multilabel(
            _boxes(d, "gt_boxes"), TORE_PAGE_W, TORE_PAGE_H, N_CATEGORIES
        )
        pred_img = rasterize_multilabel(
            _boxes(d, "pred_boxes"), TORE_PAGE_W, TORE_PAGE_H, N_CATEGORIES
        )
        cm = confusion_matrix_from_masks(gt_img, pred_img, N_CATEGORIES)
        per_doc[d["doc_id"]] = cm
        total += cm
    return total, per_doc


def _read_matrix_csv(path):
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh))
    headers = rows[0][1:]
    data = np.array([[float(v) for v in r[1:]] for r in rows[1:]])
    index = [r[0] for r in rows[1:]]
    return headers, index, data


def test_export_tore_report_empty_corpus(spark, tmp_path):
    """An empty corpus yields a valid all-zero report, not a crash."""
    docs = generate_documents_df(spark, 5).filter("false")
    meta = export_tore_report(spark, docs, str(tmp_path / "empty"))
    assert meta["num_images"] == 0
    _, _, got = _read_matrix_csv(
        str(tmp_path / "empty" / "dataset" / "confusion_matrix.csv")
    )
    assert (got == 0).all()


def test_export_tore_report_counts_boxless_docs(spark, tmp_path):
    """Boxless documents (empty gt+pred arrays → all-background raster)
    are pages too: each is counted in num_images and adds its whole page
    to the background/background cell."""
    docs = generate_documents_df(spark, 7).selectExpr(
        "doc_id",
        "CAST(array() AS array<struct<category_id:int,bbox:array<double>,"
        "score:double>>) AS gt_boxes",
        "CAST(array() AS array<struct<category_id:int,bbox:array<double>,"
        "score:double>>) AS pred_boxes",
    )
    meta = export_tore_report(spark, docs, str(tmp_path / "boxless"))
    assert meta["num_images"] == 7
    # all pixels are background agreement
    _, _, got = _read_matrix_csv(
        str(tmp_path / "boxless" / "dataset" / "confusion_matrix.csv")
    )
    assert got[0, 0] == 7 * TORE_PIXELS
    assert got.sum() == got[0, 0]


def _golden_docs(spark):
    # the raster of tore_confusion: halved coordinates
    return generate_documents_df(spark, N_DOCS).select(
        "doc_id",
        *[_scale_boxes_half(F.col(c)).alias(c) for c in ("gt_boxes", "pred_boxes")],
    )


def _read_images_sheet(out):
    """(header row, {doc_id: values}) over every part file of the sheet."""
    rows = {}
    header_row = None
    for f in glob.glob(os.path.join(out, "images", "*.csv")):
        with open(f, newline="") as fh:
            r = list(csv.reader(fh))
        if not r:
            continue
        header_row = r[0]
        for line in r[1:]:
            rows[line[0]] = [float(v) for v in line[1:]]
    return header_row, rows


def test_export_tore_report_runs_one_job(spark, tmp_path):
    """Each page is rasterized once: the Images-sheet write is the only
    Spark job, and the dataset matrix and page count ride it as an
    observation."""
    sc = spark.sparkContext
    sc.setJobGroup("tore_export_jobs", "export_tore_report")
    try:
        export_tore_report(spark, _golden_docs(spark), str(tmp_path / "report"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("tore_export_jobs")) == 1


def test_export_tore_report_rounds_like_the_query(spark, tmp_path):
    """The Images sheet rounds HALF_UP like ``tore_report_images`` and its
    DuckDB oracle. The recall cls/cls cell of generated doc 1257 is the
    double nearest 0.9625: numpy's round-half-even on the scaled value
    gives 0.962; Spark, DuckDB and Python's ``round`` give 0.963."""
    import duckdb

    doc = gen_document(1257)
    docs = spark.createDataFrame(
        [(doc["doc_id"], doc["gt_boxes"], doc["pred_boxes"])],
        f"doc_id string, gt_boxes {BOXES_SCHEMA_DDL}, "
        f"pred_boxes {BOXES_SCHEMA_DDL}",
    ).select(
        "doc_id",
        *[_scale_boxes_half(F.col(c)).alias(c) for c in ("gt_boxes", "pred_boxes")],
    )
    out = str(tmp_path / "report")
    export_tore_report(spark, docs, out)

    gt_img, pred_img = (
        rasterize_multilabel(_boxes(doc, k), TORE_PAGE_W, TORE_PAGE_H, N_CATEGORIES)
        for k in ("gt_boxes", "pred_boxes")
    )
    cm = confusion_matrix_from_masks(gt_img, pred_img, N_CATEGORIES)
    v = float(confusion_matrices(collapsed_confusion_matrix(cm))[1][1, 1])
    assert float(np.round(v, 3)) == 0.962  # the tie this doc pins
    col = COLLAPSED_IMAGE_HEADERS.index("Recall(GT/Pred): cls/cls")
    got = _read_images_sheet(out)[1][doc["doc_id"]][col]
    assert got == 0.963 == round(v, 3)
    assert got == duckdb.sql(f"SELECT round({v!r}::DOUBLE, 3)").fetchone()[0]


def test_export_tore_report_golden(spark, tmp_path):
    docs = _golden_docs(spark)
    out = str(tmp_path / "report")
    meta = export_tore_report(spark, docs, out)

    total, per_doc = _local_dataset_matrix()

    # dataset meta block (reference build_ds_report header cells), on the
    # raster every TORE query and report rasterizes at: half the datagen page
    assert (TORE_PAGE_W, TORE_PAGE_H) == (640, 811)
    assert meta["num_images"] == N_DOCS
    assert meta["num_pixels"] == N_DOCS * TORE_PAGE_W * TORE_PAGE_H
    assert meta["headers"][0] == "background"
    assert meta["collapsed_headers"] == ["background", "all_classes"]
    assert json.load(open(os.path.join(out, "dataset", "meta.json"))) == meta

    # confusion matrix CSV == locally summed matrix at 3 decimals
    headers, index, got_cm = _read_matrix_csv(
        os.path.join(out, "dataset", "confusion_matrix.csv")
    )
    assert headers == index == meta["headers"]
    assert np.allclose(got_cm, np.round(total, 3), atol=1e-9)

    # precision / recall / collapsed CSVs match the kernel normalizations
    pm, rm, _ = confusion_matrices(total)
    cpm, crm, _ = confusion_matrices(collapsed_confusion_matrix(total))
    for fname, want, hdrs in (
        ("precision_matrix", pm, meta["headers"]),
        ("recall_matrix", rm, meta["headers"]),
        ("collapsed_precision_matrix", cpm, meta["collapsed_headers"]),
        ("collapsed_recall_matrix", crm, meta["collapsed_headers"]),
    ):
        h, _, got = _read_matrix_csv(
            os.path.join(out, "dataset", f"{fname}.csv")
        )
        assert h == hdrs, fname
        assert np.allclose(got, np.round(want, 3), atol=1e-9), fname

    # hidden rows/cols recorded = the Excel report's visibility toggles
    hidden = meta["hidden"]["confusion_matrix"]
    cm3 = np.round(total, 3)
    assert hidden["hidden_rows"] == np.nonzero(cm3.sum(axis=1) == 0)[0].tolist()
    assert hidden["hidden_cols"] == np.nonzero(cm3.sum(axis=0) == 0)[0].tolist()

    # the precision-matrix diagonal mean reproduces confusion_metrics —
    # pinning the exporter to the engine's dataset P/R/F1 surface
    assert abs(
        float(np.diag(pm).mean()) - confusion_metrics(total)["precision_mean"]
    ) < 1e-12

    # Images sheet: one row per doc, exact reference headers, values equal
    # the locally recomputed collapsed 12-vector (3 decimals)
    header_row, rows = _read_images_sheet(out)
    assert header_row == ["doc_id"] + COLLAPSED_IMAGE_HEADERS
    assert len(rows) == N_DOCS
    for doc_id, cm in per_doc.items():
        pm_i, rm_i, fm_i = confusion_matrices(collapsed_confusion_matrix(cm))
        want = np.round(
            np.stack([pm_i.flatten(), rm_i.flatten(), fm_i.flatten()]).flatten(),
            3,
        )
        assert np.allclose(rows[doc_id], want, atol=1e-9), doc_id
