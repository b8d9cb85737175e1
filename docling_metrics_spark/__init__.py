"""docling-metrics-spark: a PySpark-native document extraction + evaluation engine.

A from-scratch re-expression of the capabilities of
docling-project/docling-metrics (reference at /root/reference, read-only)
as an idiomatic Spark DataFrame pipeline:

- input: an Iceberg-shaped table ``documents(doc_id string,
  spans array<struct<kind,text,media_ref,offset>>)`` of interleaved
  text + media documents (BASELINE.json input_hint),
- main-content extraction (HTML boilerplate strip via DOM text-density +
  link-ratio heuristics) inside vectorized pandas/Arrow UDFs,
- per-document quality metrics (normalized token Levenshtein, TEDS via
  Zhang-Shasha tree edit distance on serialized cell trees, COCO-style mAP
  over layout bboxes) as pandas UDFs,
- exact span-sequence equality (kind, text, media_ref, order) computed
  JVM-side as a native array<struct> comparison,
- two-stage (partial per task, then final) aggregation: a skewed giant
  document is scored map-side and costs only its own partial row,
- per-partition lineage + metrics checkpointing with anti-join resume.

All metric kernels are implemented from scratch in pure Python/numpy
(kernels/) so the same code serves as the single-process oracle in tests
and as the executor-side UDF body in Spark.
"""

__version__ = "0.1.0"
