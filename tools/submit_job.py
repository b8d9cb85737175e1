"""The spark-submit entrypoint (north rule: "run via spark-submit
--py-files on a multi-executor cluster").

Usage:

    spark-submit --master local[N] \
        --py-files $(python -c 'from docling_metrics_spark.shipping import build_zip; print(build_zip())') \
        tools/submit_job.py <corpus_parquet_dir> <out_json>

The job imports the engine ONLY from the ``--py-files`` zip (this script
adds no repo path to sys.path), runs the flagship extraction+metrics
pipeline over the corpus, and writes one JSON summary line: doc count,
docs/sec, span_equal_rate, and the aggregate metric means. The pytest smoke
(tests/test_submit.py) asserts the real ``spark-submit`` binary round-trips
this with span_equal_rate == 1.0.
"""

import json
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    corpus, out_json = sys.argv[1], sys.argv[2]
    spark = SparkSession.builder.appName("dms-submit").getOrCreate()
    # resolved from the --py-files zip on driver and executors alike
    from docling_metrics_spark.pipeline import aggregate_metrics, run_pipeline
    from docling_metrics_spark.session import warm_python_workers

    # Warm-up: JVM JIT + Python worker pool spin-up, outside the timed
    # region (the same protocol as tools/bench_scaling.py's worker).
    warm_python_workers(spark)

    docs = spark.read.parquet(corpus)
    t0 = time.time()
    row = aggregate_metrics(run_pipeline(docs)).collect()[0]
    wall = time.time() - t0
    n = int(row["cnt_span_equal_int"])
    summary = {
        "n_docs": n,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n / wall, 1) if wall else None,
        "span_equal_rate": float(row["sum_span_equal_int"]) / n if n else None,
        "avg_edit_distance_score": float(row["avg_edit_distance_score"]),
        "avg_f1_score": float(row["avg_f1_score"]),
    }
    with open(out_json, "w") as f:
        json.dump(summary, f)
    print("SUBMIT_RESULT " + json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
