"""``session.install_zip_directory_cache``: a worker's per-task
``importlib.invalidate_caches()`` re-reads a zip's directory only when
the archive changed. No Spark session: a ``TaskContext`` is faked."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from feathr_spark.session import install_zip_directory_cache

eager = pytest.mark.skipif(sys.version_info >= (3, 13),
                           reason="CPython 3.13+ invalidates zip caches lazily")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding module ``zdc_one``, its zipimporter
    built by one import, and a counter of directory reads of it; the
    stock ``invalidate_caches`` is restored afterwards."""
    path = str(tmp_path / "zdc.zip")
    _write_zip(path, {"zdc_one": "VALUE = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(sys, "path", [path, *sys.path])
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(arch):
        if arch == path:
            reads.append(arch)
        return stock_read(arch)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    assert importlib.import_module("zdc_one").VALUE == 1
    reads.clear()  # the importer's own first read
    yield path, reads
    for mod in ("zdc_one", "zdc_two"):
        sys.modules.pop(mod, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def in_task(monkeypatch):
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))


@eager
def test_unchanged_archive_is_not_reread(archive, in_task):
    path, reads = archive
    importlib.invalidate_caches()
    assert len(reads) == 1  # stock: every call re-reads
    assert install_zip_directory_cache()
    importlib.invalidate_caches()
    assert len(reads) == 2  # first call after install: no stamp yet
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 2
    importer = sys.path_importer_cache[path]
    assert importer._files is zipimport._zip_directory_cache[path]


@eager
@pytest.mark.parametrize("change", ["mtime", "size"])
def test_changed_archive_is_reread(archive, in_task, change):
    """Either half of ``(st_mtime_ns, st_size)`` moving alone forces a
    re-read, after which a module only the new archive holds imports."""
    path, reads = archive
    assert install_zip_directory_cache()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1
    before = os.stat(path)
    if change == "mtime":  # same size, later mtime
        _write_zip(path, {"zdc_two": "VALUE = 2\n"})
        os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    else:  # new size, the old mtime
        _write_zip(path, {"zdc_one": "VALUE = 1\n", "zdc_two": "VALUE = 2\n"})
        os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(path)
    assert (after.st_size == before.st_size) == (change == "mtime")
    assert (after.st_mtime_ns == before.st_mtime_ns) == (change == "size")
    importlib.invalidate_caches()
    assert len(reads) == 2
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("zdc_two").VALUE == 2


@eager
def test_deleted_archive_falls_back_to_stock(archive, in_task):
    path, _ = archive
    assert install_zip_directory_cache()
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[path]._files == {}
    assert path not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        importlib.import_module("zdc_two")


@eager
def test_second_install_is_a_no_op(archive, in_task):
    assert install_zip_directory_cache()
    patched = zipimport.zipimporter.invalidate_caches
    assert patched.__module__ == "feathr_spark.session"
    assert not install_zip_directory_cache()
    assert zipimport.zipimporter.invalidate_caches is patched


def test_no_install_without_a_task_context(archive):
    stock = zipimport.zipimporter.invalidate_caches
    assert TaskContext.get() is None
    assert not install_zip_directory_cache()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_no_install_on_lazy_cpython(archive, in_task, monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not install_zip_directory_cache()
    assert zipimport.zipimporter.invalidate_caches is stock
