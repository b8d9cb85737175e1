"""The zip-directory guard the package installs on import: an unchanged
archive on ``sys.path`` is not re-read by ``importlib.invalidate_caches()``,
a replaced or deleted one is, exactly as without the guard."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import docling_metrics_spark


def _write_zip(path, modules):
    """Publish a zip of ``{module name: source}`` at ``path`` by rename."""
    tmp = path.with_name(path.name + ".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding ``dms_zg_a`` on ``sys.path``; cleaned out afterwards."""
    path = tmp_path / "mods.zip"
    _write_zip(path, {"dms_zg_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in ("dms_zg_a", "dms_zg_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


def test_unchanged_zip_is_not_reread(archive):
    import dms_zg_a

    assert dms_zg_a.X == 1
    # the import's directory read was not the guard's, so this one reads
    importlib.invalidate_caches()
    files = zipimport._zip_directory_cache[str(archive)]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[str(archive)] is files
    # the unwrapped original still re-reads on every call
    importer = sys.path_importer_cache[str(archive)]
    zipimport.zipimporter.invalidate_caches.__wrapped__(importer)
    assert zipimport._zip_directory_cache[str(archive)] is not files


def test_replaced_zip_is_reread(archive):
    import dms_zg_a  # noqa: F401

    importlib.invalidate_caches()
    files = zipimport._zip_directory_cache[str(archive)]
    _write_zip(archive, {"dms_zg_a": "X = 1\n", "dms_zg_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[str(archive)] is not files
    import dms_zg_b

    assert dms_zg_b.Y == 2


def test_deleted_zip_imports_nothing(archive):
    _write_zip(archive, {"dms_zg_a": "X = 1\n", "dms_zg_b": "Y = 2\n"})
    import dms_zg_a  # noqa: F401

    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert str(archive) not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        import dms_zg_b  # noqa: F401


def test_guard_installs_once_and_keeps_the_original():
    guard = zipimport.zipimporter.invalidate_caches
    importlib.reload(docling_metrics_spark)
    assert zipimport.zipimporter.invalidate_caches is guard
    original = guard.__wrapped__
    assert not getattr(original, "stat_guard", False)
    assert original.__name__ == "invalidate_caches"
