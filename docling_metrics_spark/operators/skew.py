"""Skew handling: two-stage (partial, then final) aggregation.

At 10^12 documents, grouped aggregations over low-cardinality or skewed keys
(e.g. per-source, per-language, or the single global group) must not funnel
raw rows into few reducers. Spark's hash aggregate already combines
map-side: every task emits one partial row per key and a final aggregate
merges the partials — the same partial/final split the reference uses for
its TORE dataset matrix (tore_layout_evaluator.py:224-245: per-page partials
summed, metrics recomputed on the sum). The flagship summary
(``pipeline.aggregate_metrics``) is a plain keyless ``agg`` for that reason.

This module holds the one aggregation that needs a shape of its own: the
element-wise sum of an array column (the TORE confusion matrix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_array_sum(
    df: DataFrame, array_col: str, with_count: bool = False
) -> DataFrame:
    """Element-wise sum of an ARRAY<DOUBLE> column — the distributed twin of
    the reference's confusion-matrix summation (tore_layout_evaluator.py:
    224-245). Returns a single-row DataFrame with column ``summed`` (plus
    ``n_rows``, the input row count, when ``with_count`` — it rides the
    slot-sum aggregation so callers needing both pay ONE job, not a
    separate ``df.count()``).

    Shape: posexplode to (slot index, value) rows, then a plain
    ``groupBy(idx).sum(val)``. Spark's hash aggregate combines map-side, so
    every executor holds at most one double per array slot — constant memory
    regardless of row count (unlike a collect_list of whole arrays, which
    buffers whole matrices per reducer). It needs no salt: the shuffle key
    is the slot index, whose cardinality equals the array length, and
    partial aggregation already fans the hot keys over all map tasks."""
    exploded = df.select(F.posexplode(array_col).alias("_idx", "_val"))
    slot_aggs = [F.sum("_val").alias("_sum")]
    if with_count:
        # every row contributes each slot exactly once, so any slot's row
        # count IS the input row count
        slot_aggs.append(F.count("*").alias("_n"))
    final_aggs = [
        F.array_sort(F.collect_list(F.struct("_idx", "_sum"))).alias("_pairs")
    ]
    if with_count:
        final_aggs.append(F.max("_n").alias("_n"))
    out_cols = [F.transform(F.col("_pairs"), lambda s: s._sum).alias("summed")]
    if with_count:
        out_cols.append(F.coalesce("_n", F.lit(0)).alias("n_rows"))
    return exploded.groupBy("_idx").agg(*slot_aggs).agg(*final_aggs).select(*out_cols)
