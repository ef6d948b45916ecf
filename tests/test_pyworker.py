"""The zipimport lazy-invalidation backport (project_cascade_spark._pyworker),
pure Python: no Spark."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

import project_cascade_spark._pyworker  # noqa: F401


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """(archive path, write(names)): write(names) (re)writes the archive with
    one module per name; the archive sits on sys.path for the test only."""
    archive = str(tmp_path / "mods.zip")
    tag = uuid.uuid4().hex[:8]

    def write(*names):
        with zipfile.ZipFile(archive, "w") as z:
            for n in names:
                z.writestr(f"{n}_{tag}.py", f"NAME = {n!r}\n")
        return [f"{n}_{tag}" for n in names]

    write("a")
    monkeypatch.syspath_prepend(archive)
    yield archive, write
    for name in [m for m in sys.modules if m.endswith(tag)]:
        del sys.modules[name]
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_invalidate_caches_reads_no_zip_directory(zip_pkg, monkeypatch):
    _archive, write = zip_pkg
    (a,) = write("a")
    importlib.import_module(a)
    calls = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: calls.append(p) or real(p)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []


def test_rewritten_zip_exposes_new_module(zip_pkg):
    _archive, write = zip_pkg
    (a,) = write("a")
    assert importlib.import_module(a).NAME == "a"
    _a, b = write("a", "b")
    importlib.invalidate_caches()
    assert importlib.import_module(b).NAME == "b"


def test_deleted_archive_imports_nothing(zip_pkg):
    archive, write = zip_pkg
    a, c = write("a", "c")
    importlib.import_module(a)
    os.remove(archive)
    importlib.invalidate_caches()
    # not found, rather than a stale directory pointing into a missing file
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(c)
    assert archive not in zipimport._zip_directory_cache


def test_patched_only_below_312():
    patched = sys.version_info < (3, 12)
    owner = zipimport.zipimporter.invalidate_caches.__module__
    assert owner == ("project_cascade_spark._pyworker" if patched else "zipimport")
    assert isinstance(vars(zipimport.zipimporter).get("_files"), property) == patched
