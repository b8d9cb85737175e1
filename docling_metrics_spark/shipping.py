"""Ship the package to executors — the sandbox twin of
``spark-submit --py-files dms.zip``.

The driver may import this repo from an arbitrary cwd via sys.path; executor
Python workers know nothing about that path. ``ensure_py_files`` zips the
package once (named by the package digest, cached in /tmp) and registers it
with ``sc.addPyFile`` so every UDF deserializes cleanly on any executor. On
a real cluster the packaged zip goes through spark-submit instead; this
helper is idempotent and a no-op when already registered.
"""

from __future__ import annotations

import os
import zipfile

from docling_metrics_spark.cache import cached_materialize, package_digest, package_files

_SHIPPED: set[int] = set()


def build_zip() -> str:
    """Zip the package into /tmp under its digest; returns the zip path."""
    name = f"docling_metrics_spark-{package_digest()}"

    def write(dest: str) -> None:
        with zipfile.ZipFile(os.path.join(dest, f"{name}.zip"), "w") as z:
            for rel, path in package_files():
                z.write(path, os.path.join("docling_metrics_spark", rel))

    return os.path.join(cached_materialize(f"/tmp/{name}", "", write), f"{name}.zip")


def ensure_py_files(spark) -> None:
    """Idempotently register the package zip with the live session."""
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    sc.addPyFile(build_zip())
    _SHIPPED.add(id(sc))
