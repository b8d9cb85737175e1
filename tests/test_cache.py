"""The one package digest and the one cache protocol
(docling_metrics_spark/cache.py)."""

import ast
import importlib.util
import os
import shutil
from pathlib import Path

import pandas as pd
import pytest

from docling_metrics_spark import cache
from docling_metrics_spark.cache import CACHE_EVENTS, cached_materialize

PKG = Path(cache.__file__).resolve().parent


def _load_cache_module(pkg_dir: Path):
    """Import ``pkg_dir``/cache.py standalone, so its digest hashes the
    package copy it sits in."""
    spec = importlib.util.spec_from_file_location(
        f"dms_cache_copy_{abs(hash(str(pkg_dir)))}", pkg_dir / "cache.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_package_digest_changes_on_every_module_edit(tmp_path):
    """Editing any package module — including the ones a hand-kept list
    used to leave out — changes the digest that keys every /tmp cache and
    names the --py-files zip."""
    copy = tmp_path / "docling_metrics_spark"
    shutil.copytree(PKG, copy, ignore=shutil.ignore_patterns("__pycache__"))
    mod = _load_cache_module(copy)
    assert mod.package_digest() == cache.package_digest(), (
        "the digest must not depend on where the package sits"
    )
    modules = [rel for rel, _ in mod.package_files()]
    for rel in ("multimodal.py", "checkpoint.py", "registry.py", "shipping.py",
                "streaming/windowed.py", "export/confusion_export.py"):
        assert rel in modules, rel
    seen = {mod.package_digest()}
    for rel in modules:
        with open(copy / rel, "a") as f:
            f.write("\n# edited\n")
        digest = mod.package_digest()
        assert digest not in seen, f"editing {rel} left the digest unchanged"
        seen.add(digest)
    # a renamed module with the same bytes is a different package too
    os.rename(copy / "checkpoint.py", copy / "checkpoint2.py")
    assert mod.package_digest() not in seen


def test_src_tag_and_zip_name_share_the_digest():
    from docling_metrics_spark.plans import queries as Q
    from docling_metrics_spark.shipping import build_zip

    digest = cache.package_digest()
    assert Q._SRC_TAG == cache.SRC_TAG == digest
    zip_path = build_zip()
    assert os.path.basename(zip_path) == f"docling_metrics_spark-{digest}.zip"
    assert os.path.isfile(zip_path)


def test_interrupted_build_is_rebuilt_not_served(tmp_path):
    """A build that dies part-way leaves no marker: the next call rebuilds
    instead of serving the partial output."""
    path = str(tmp_path / "table")

    def killed(dest):
        with open(os.path.join(dest, "part-0"), "w") as f:
            f.write("partial")
        raise RuntimeError("killed mid-write")

    def complete(dest):
        with open(os.path.join(dest, "part-0"), "w") as f:
            f.write("complete")

    with pytest.raises(RuntimeError):
        cached_materialize(path, "t", killed)
    ev0 = len(CACHE_EVENTS)
    assert cached_materialize(path, "t", complete) == path
    assert CACHE_EVENTS[ev0:] == [(path, "build")]
    assert open(os.path.join(path, "part-0")).read() == "complete"
    assert cached_materialize(path, "t", killed) == path
    assert CACHE_EVENTS[-1] == (path, "reuse")
    assert sorted(os.listdir(tmp_path)) == ["table"], "staging must not linger"


def test_interrupted_fixture_write_is_rebuilt(tmp_path, monkeypatch):
    """The SMILES fixture's parquet write dies after writing a truncated
    file: the next call rebuilds the fixture rather than serve it."""
    from docling_metrics_spark.plans import queries as Q

    path = str(tmp_path / "smiles")
    monkeypatch.setattr(Q, "_SMILES_FIXTURE_PATH", path)
    real_to_parquet = pd.DataFrame.to_parquet

    def truncated_to_parquet(self, dest, *args, **kwargs):
        real_to_parquet(self, dest, *args, **kwargs)
        with open(dest, "r+b") as f:
            f.truncate(64)
        raise RuntimeError("killed mid-write")

    with monkeypatch.context() as m:
        m.setattr(pd.DataFrame, "to_parquet", truncated_to_parquet)
        with pytest.raises(RuntimeError):
            Q._smiles_fixture(None)
    assert Q._smiles_fixture(None) == path
    assert CACHE_EVENTS[-1] == (path, "build")
    assert len(pd.read_parquet(path)) == 400


def test_cache_checks_live_only_in_the_cache_protocol():
    """Outside cache.py no package, tools/ or bench.py code decides
    build-vs-reuse by itself: no ``os.path.exists`` call and no
    ``_SUCCESS`` / ``_DONE`` marker."""
    repo = PKG.parent
    offenders = []
    sources = [*PKG.rglob("*.py"), *repo.glob("tools/*.py"), repo / "bench.py"]
    for path in sorted(sources):
        if path == PKG / "cache.py":
            continue
        rel = path.relative_to(repo).as_posix()
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "exists"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "path"
            ):
                offenders.append(f"{rel}:{node.lineno} os.path.exists")
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                for marker in ("_SUCCESS", "_DONE"):
                    if marker in node.value:
                        offenders.append(f"{rel}:{node.lineno} {marker}")
    assert not offenders, "cache checks outside cache.py:\n" + "\n".join(offenders)
