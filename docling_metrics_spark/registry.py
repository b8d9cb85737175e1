"""Metric extension API — the engine's analog of the reference's
``BaseMetric`` contract (docling-metrics-core base_types.py:34-54; the
reference's hello-world template, hello_world_metric.py:37-92, is
re-expressed in tests/test_registry.py).

A metric is three declared pieces:

- ``input_cols``: the columns its kernel consumes,
- ``result_schema``: a Spark ``StructType`` (or DDL string) for its scores,
- ``batch_kernel``: a plain-Python function ``(row_dict) -> dict`` evaluated
  per sample — the engine wraps it into one Arrow-vectorized pandas UDF, so
  metric authors never touch Spark (exactly like reference authors never
  touch the runner: they subclass and implement ``evaluate_sample``,
  base_types.py:38).

``evaluate_dataset`` = ``withColumn(scores) → groupBy().agg()`` mirrors the
reference's map+fold pipeline (base_types.py:50-54): per-sample map then
dataset-level aggregate over every numeric score column.

Scale: the kernel runs inside executors in Arrow batches; the aggregate is
Spark's native partial+final hash aggregate.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pandas as pd  # module-level: pandas_udf resolves type hints here

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructType


@dataclass(frozen=True)
class Metric:
    name: str
    input_cols: tuple[str, ...]
    result_schema: StructType | str  # DDL strings parse lazily (needs a session)
    batch_kernel: Callable[[dict], dict]

    @property
    def schema(self) -> StructType:
        if isinstance(self.result_schema, str):
            from pyspark.sql.types import _parse_datatype_string

            return _parse_datatype_string(self.result_schema)
        return self.result_schema

    def udf(self):
        """Arrow UDF over a single struct argument (inputs are packed with
        ``F.struct`` so one fixed signature serves any input arity)."""
        kernel = self.batch_kernel
        cols = self.input_cols
        schema = self.schema
        fields = [f.name for f in schema.fields]

        def _apply(batch: pd.DataFrame) -> pd.DataFrame:
            rows = []
            for vals in zip(*[batch[c] for c in cols]):
                out = kernel(dict(zip(cols, vals)))
                rows.append({k: out.get(k) for k in fields})
            return pd.DataFrame(rows, columns=fields)

        return F.pandas_udf(schema)(_apply)

    def score_column(self) -> Column:
        return self.udf()(F.struct(*[F.col(c) for c in self.input_cols]))

    def evaluate_samples(self, df: DataFrame,
                         out_col: str | None = None) -> DataFrame:
        """Per-sample map: one struct column of scores (evaluate_sample)."""
        return df.withColumn(out_col or f"{self.name}_scores",
                             self.score_column())

    def evaluate_dataset(self, df: DataFrame) -> DataFrame:
        """map + fold (base_types.py:50-54): scores then mean/count per
        numeric field — the default aggregate; override by aggregating the
        per-sample frame yourself."""
        scored = self.evaluate_samples(df, out_col="_s")
        aggs = [F.count("*").alias("sample_count")]
        for f_ in self.schema.fields:
            if f_.dataType.typeName() in ("double", "float", "integer", "long"):
                aggs.append(F.avg(F.col(f"_s.{f_.name}")).alias(f"avg_{f_.name}"))
        return scored.agg(*aggs)


def register_metric(name: str, input_cols: list[str],
                    result_schema: StructType | str,
                    batch_kernel: Callable[[dict], dict]) -> Metric:
    """Declare a metric under ``name``; returns the Metric handle callers
    evaluate through. DDL strings are kept verbatim and parsed when first
    used (declaring must work without a live SparkSession, like reference
    metric imports)."""
    return Metric(name, tuple(input_cols), result_schema, batch_kernel)

