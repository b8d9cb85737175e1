"""The flagship pipeline: extract → verify → score → aggregate.

Dataflow (all narrow until the final aggregation — zero shuffles before the
agg, which is the 100 TB design point):

    documents(doc_id, spans, raw_html, pred_spans, gt_boxes, pred_boxes)
      │  pred text/tables pruned JVM-side       [filter/transform/array_join]
      │  flagship_doc_udf: extract + text       [ONE fused Arrow UDF, narrow]
      │    + TEDS + mAP-core in one crossing
      ├─ extracted == spans                     [JVM array<struct> equality]
      └─ partial (per task) + final aggregate   [the only shuffle]

Prediction span text is concatenated JVM-side (filter + transform +
array_join on the spans array) so only the strings the kernels need cross
the Arrow boundary — nested-column pruning by construction. Extraction and
the three metric families are fused into a single pandas UDF: same per-doc
kernel work, one Arrow crossing and one Python worker pool instead of the
previous two chained ArrowEvalPython stages (Spark already co-evaluated
the three independent scoring UDFs in one node; the real savings are the
extract→score dependency chain and the extracted span array, which
previously crossed the boundary twice — out for the JVM equality check,
back in as derived text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from docling_metrics_spark.operators.udfs import flagship_doc_udf


def _span_text(col: str) -> F.Column:
    """Concatenated text of non-media spans, in offset order (JVM-side)."""
    ordered = F.array_sort(
        F.filter(F.col(col), lambda s: s.text.isNotNull()),
        lambda a, b: F.when(a.offset < b.offset, -1)
        .when(a.offset > b.offset, 1)
        .otherwise(0),
    )
    return F.array_join(F.transform(ordered, lambda s: s.text), " ")


def _table_htmls(col: str) -> F.Column:
    """Ordered list of table-span HTML strings (JVM-side nested pruning)."""
    tables = F.array_sort(
        F.filter(F.col(col), lambda s: s.kind == F.lit("table")),
        lambda a, b: F.when(a.offset < b.offset, -1)
        .when(a.offset > b.offset, 1)
        .otherwise(0),
    )
    return F.transform(tables, lambda s: s.text)


def run_pipeline(docs: DataFrame) -> DataFrame:
    """documents → per-document metric rows (narrow, shuffle-free).

    One fused Arrow UDF computes extraction + text + TEDS + mAP-core. The
    unfused plan had two chained ArrowEvalPython stages (extract, then the
    three scoring UDFs co-evaluated in one node), each with its own worker
    pool — and the extracted span array crossed the boundary twice (out
    for the equality check, back in as derived text). Prediction-side
    text/tables are still pruned JVM-side (`_span_text`/`_table_htmls` over
    ``pred_spans`` — only the strings the kernels need enter Python), and
    span-sequence equality stays a JVM-native ``eqNullSafe`` over the
    returned ``extracted`` column.

    GT side uses the *extracted* spans (the engine's own output), compared
    against the document's prediction spans — per the north rule the metric
    kernels grade extracted content; span_equal separately pins extraction
    to the reference."""
    scored = docs.withColumn(
        "r",
        flagship_doc_udf(
            "raw_html",
            _span_text("pred_spans"),
            _table_htmls("pred_spans"),
            "gt_boxes",
            "pred_boxes",
        ),
    )
    return scored.select(
        "doc_id",
        F.col("r.extracted").eqNullSafe(F.col("spans")).alias("span_equal"),
        F.size("spans").alias("n_spans"),
        F.col("r.f1_score").alias("f1_score"),
        F.col("r.precision_score").alias("precision_score"),
        F.col("r.recall_score").alias("recall_score"),
        F.col("r.edit_distance_score").alias("edit_distance_score"),
        F.col("r.bleu_score").alias("bleu_score"),
        F.col("r.meteor_score").alias("meteor_score"),
        F.col("r.teds_mean").alias("teds_mean"),
        F.col("r.n_pairs").alias("teds_pairs"),
        F.col("r.error_count").alias("teds_errors"),
        F.col("r.map").alias("map"),
        F.col("r.map_50").alias("map_50"),
        F.col("r.map_75").alias("map_75"),
        F.col("r.mar_100").alias("mar_100"),
    )


METRIC_COLS = [
    "f1_score",
    "edit_distance_score",
    "bleu_score",
    "teds_mean",
    "map",
]


def aggregate_metrics(per_doc: DataFrame) -> DataFrame:
    """Dataset-level summary: for ``span_equal_int`` and each of
    ``METRIC_COLS``, ``sum_``, ``cnt_`` (non-null count), ``avg_`` (sum /
    count), ``min_`` and ``max_``.

    One keyless ``agg``: Spark's hash aggregate runs a partial aggregate in
    every task and a single final aggregate after one shuffle of one row
    per task, so a giant document costs only its own map-side row. Salting
    a keyless sum would add a shuffle stage and spread no hot key."""
    exprs = []
    for c in ["span_equal_int"] + METRIC_COLS:
        exprs += [
            F.sum(c).alias(f"sum_{c}"),
            F.count(c).alias(f"cnt_{c}"),
            (F.sum(c) / F.count(c)).alias(f"avg_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    return per_doc.withColumn(
        "span_equal_int", F.col("span_equal").cast("double")
    ).agg(*exprs)
