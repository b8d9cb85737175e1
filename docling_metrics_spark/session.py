"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down by the caller
for local testing:

- AQE on (adaptive shuffle partition coalescing + skew-join splitting),
- Arrow self-destruct + records-per-batch capped at ``ARROW_MAX_RECORDS``:
  bounds Python worker memory on giant documents, and keeps batches small
  enough that queries which still chain several pandas UDFs pipeline
  across their Python workers (the flagship itself is one fused UDF since
  round 3, so the cap there is purely a memory bound),
- shuffle partitions sized by the caller (tests: 8–32; cluster: 2–3× cores).
"""

from __future__ import annotations

import os

import pandas as pd  # module-level: pandas_udf resolves type hints here
from pyspark.sql import SparkSession

ARROW_MAX_RECORDS = 512


def build_session(
    app_name: str = "docling-metrics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_python_workers(spark: SparkSession) -> None:
    """Warm the JVM and the Python worker pool: a pandas UDF over four
    tasks per slot forks every slot's worker and pays the pandas and
    kernel imports here, outside a timed region (a long-running cluster
    app amortizes this start)."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def warm(v: pd.Series) -> pd.Series:
        from docling_metrics_spark.kernels.textmetrics import evaluate_text_pair  # noqa: F401

        return v * 1.0

    n_tasks = spark.sparkContext.defaultParallelism * 4
    spark.range(n_tasks, numPartitions=n_tasks).select(
        F.sum(warm(F.col("id").cast("double")))
    ).collect()
