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

Importing the package also installs :func:`_install_zip_stat_guard`: every
Python worker that runs a package UDF imports this module first.
"""

import functools
import os
import sys
import zipimport

__version__ = "0.1.0"


def _install_zip_stat_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the archive changed.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task (``worker_util.setup_spark_files``). On CPython 3.11 that
    makes every zipimporter on ``sys.path`` re-read its archive's whole
    central directory: pyspark.zip through a dozen package importers and
    the spark-core jar (no ``.py`` file in it) through two, 0.1–0.5 s per
    task on a 4-CPU host.

    The wrapper keeps, per archive, the ``(st_ino, st_size, st_mtime_ns)``
    of an ``os.stat`` taken just before the last read it made. It calls the
    original when the stat differs, when the stat fails, or when the
    directory is not cached; otherwise it points the importer at the cached
    directory, which is what the read would have given. A directory read
    the wrapper did not make (before this install, or by a new importer)
    has no stat, so its next invalidation reads once; the zipimporters
    already cached are invalidated here for that reason. Installing twice
    is a no-op, and the original stays callable as ``__wrapped__``.
    """
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_guard", False):
        return
    read_stats: dict[str, tuple[int, int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except (OSError, ValueError):
            original(self)
            return
        stat = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_stats.get(self.archive) == stat:
            self._files = files
            return
        original(self)
        read_stats[self.archive] = stat

    invalidate_caches.stat_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


_install_zip_stat_guard()
