"""One package digest and one build-or-reuse protocol for every cached
/tmp table, fixture and the ``--py-files`` zip.

:func:`package_digest` hashes every ``.py`` file of the package (sorted
relative path, then bytes), so an edit to any module changes it.
:func:`cached_materialize` is the only code that decides whether a cached
artifact is built or reused; see its docstring for the contract.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
from collections.abc import Callable

_ROOT = os.path.dirname(os.path.abspath(__file__))
_MARKER = "_DMS_INPUT"

#: (path, "build" | "reuse") per cached_materialize call, in call order.
#: bench.py snapshots this around each timed query to disclose which
#: queries consumed a table another query already paid to build
#: ("shared_intermediates") — cached-table reuse must be visible in bench
#: JSON, never silently credited.
CACHE_EVENTS: list[tuple[str, str]] = []


def package_files() -> list[tuple[str, str]]:
    """(path relative to the package, absolute path) of every package
    ``.py`` file, sorted by relative path."""
    files = []
    for dirpath, _dirnames, filenames in os.walk(_ROOT):
        for fn in filenames:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                files.append((os.path.relpath(path, _ROOT), path))
    return sorted(files)


def package_digest() -> str:
    """12-hex digest of every package ``.py`` file: its relative path, its
    length and its bytes, in sorted path order. An unreadable file raises:
    skipping it would drop it from the key, and its edits would then serve
    stale caches."""
    h = hashlib.md5()
    for rel, path in package_files():
        with open(path, "rb") as fh:
            data = fh.read()
        h.update(f"{rel}\0{len(data)}\0".encode())
        h.update(data)
    return h.hexdigest()[:12]


#: The digest of the package this process imported. Every /tmp cache path
#: in plans/queries.py embeds it, and every marker holds it.
SRC_TAG = package_digest()


def cached_materialize(path: str, tag: str, write: Callable[[str], object]) -> str:
    """Return ``path``, first building it with ``write`` unless it already
    holds the build for ``tag``.

    Contract:

    - The key is :data:`SRC_TAG` plus ``tag`` (the input the build reads,
      e.g. ``"sf_dir|cap"``), so it covers every module of the package. It
      is held in a marker file inside ``path``, not in the path, because
      the oracle SQL embeds the paths at import time.
    - A build calls ``write(staging)`` on an empty private directory,
      renames that directory onto ``path`` and writes the marker last, under
      a temp name published with ``os.replace``. A build killed at any
      point leaves ``path`` with no marker or with an older key, so the
      next call rebuilds it and never serves a partial build.
    - Each call appends ``(path, "build" | "reuse")`` to
      :data:`CACHE_EVENTS`.
    """
    key = f"{SRC_TAG}|{tag}"
    marker = os.path.join(path, _MARKER)
    with contextlib.suppress(FileNotFoundError), open(marker) as fh:
        if fh.read() == key:
            CACHE_EVENTS.append((path, "reuse"))
            return path
    staging = f"{path}.staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    write(staging)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(staging, path)
    with open(f"{marker}.tmp", "w") as fh:
        fh.write(key)
    os.replace(f"{marker}.tmp", marker)
    CACHE_EVENTS.append((path, "build"))
    return path


def invalidate_cache(path: str) -> None:
    """Force the next :func:`cached_materialize` on ``path`` to rebuild
    (drops the marker, not the data). bench.py calls this before each
    flagship timing so the headline always prices the live kernel."""
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(path, _MARKER))
