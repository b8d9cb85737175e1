"""Skew handling: salted two-stage aggregation.

At 10^12 documents, grouped aggregations over low-cardinality or skewed keys
(e.g. per-source, per-language, or the single global group) funnel into few
reducers. The fix is the classic salt → partial → final pattern — the same
partial/final split the reference uses for its TORE dataset matrix
(tore_layout_evaluator.py:224-245: per-page partials summed, metrics
recomputed on the sum).

Only algebraically decomposable aggregates belong here (sum, count, min,
max, avg = sum/count). The helpers verify nothing silently: tests assert
salted == unsalted on the same input (SURVEY.md §5 point 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    n_salts: int = 32,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    Stage 1 groups by (group_cols + salt) — the hot key fans out over
    ``n_salts`` reducers; stage 2 combines the partials per group key.
    Emits, for every column c in ``sum_cols``: sum_c, cnt_c (non-null
    count), avg_c, min_c, max_c — all exactly equal to their single-stage
    counterparts (decomposable algebra)."""
    salted = df.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in (group_cols or df.columns[:1])], F.monotonically_increasing_id()),
            F.lit(n_salts),
        ),
    )
    partial_exprs = []
    for c in sum_cols:
        partial_exprs += [
            F.sum(c).alias(f"_p_sum_{c}"),
            F.count(c).alias(f"_p_cnt_{c}"),
            F.min(c).alias(f"_p_min_{c}"),
            F.max(c).alias(f"_p_max_{c}"),
        ]
    partials = salted.groupBy(*(group_cols + ["_salt"])).agg(*partial_exprs)

    final_exprs = []
    for c in sum_cols:
        final_exprs += [
            F.sum(f"_p_sum_{c}").alias(f"sum_{c}"),
            F.sum(f"_p_cnt_{c}").alias(f"cnt_{c}"),
            (F.sum(f"_p_sum_{c}") / F.sum(f"_p_cnt_{c}")).alias(f"avg_{c}"),
            F.min(f"_p_min_{c}").alias(f"min_{c}"),
            F.max(f"_p_max_{c}").alias(f"max_{c}"),
        ]
    if group_cols:
        return partials.groupBy(*group_cols).agg(*final_exprs)
    return partials.agg(*final_exprs)


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
