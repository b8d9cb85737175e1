"""Produce the TORE confusion-matrix report for a corpus tier — the CLI
twin of the reference evaluator's Excel export step
(tore_layout_evaluator.py:257-320, export_excel_reports=True), writing the
CSV/JSON re-expression (docling_metrics_spark/export/confusion_export.py).

Usage:  python tools/export_report.py [SF_DIR] [OUT_DIR]
        (defaults: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.01,
         /tmp/dms_tore_report)
"""

from __future__ import annotations

import os
import sys

import pandas as pd  # noqa: F401  (pandas_udf type-hint resolution)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/dms_tore_report"

    from pyspark.sql import functions as F

    from docling_metrics_spark.export import export_tore_report
    from docling_metrics_spark.plans.queries import (
        CORPUS_CAPS,
        _corpus,
        _scale_boxes_half,
    )
    from docling_metrics_spark.session import build_session

    spark = build_session(app_name="dms-export-report")
    spark.sparkContext.setLogLevel("ERROR")

    # the tore_confusion query's raster: halved coordinates
    docs = _corpus(spark, sf_dir, cap=CORPUS_CAPS["tore_confusion"]).select(
        "doc_id",
        *[_scale_boxes_half(F.col(c)).alias(c) for c in ("gt_boxes", "pred_boxes")],
    )
    meta = export_tore_report(spark, docs, out_dir)
    print(
        f"report written to {out_dir}: {meta['num_images']} images, "
        f"{meta['num_pixels']} pixels, headers={meta['headers']}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
