"""The Python worker daemon (``zcollection_spark/_pydaemon.py``): a
zipimporter re-reads its archive only when the archive changed, the
patch is live in the workers of a ``get_spark`` session, and importing
the module changes nothing."""

import importlib
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from zcollection_spark import _pydaemon
from zcollection_spark.session import STATIC_CONF

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13's invalidate_caches only drops the cache")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture()
def patched(monkeypatch):
    """The patch applied for one test, and ``_read_directory`` calls
    counted; both undone afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    _pydaemon.patch_zipimport()
    reads = []
    stock_read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_patch
def test_unchanged_archive_is_not_reread(tmp_path, patched):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()  # first call reads: the stat is not known yet
    patched.clear()
    for _ in range(3):
        imp.invalidate_caches()
        zipimport.zipimporter(archive).invalidate_caches()
    assert patched == []
    assert imp.find_spec("zd_mod_a") is not None


@needs_patch
def test_rewritten_archive_is_reread(tmp_path, patched, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    assert imp.find_spec("zd_mod_b") is None
    _write_zip(archive, {"zd_mod_a": "X = 1\n", "zd_mod_b": "Y = 2\n"})
    patched.clear()
    imp.invalidate_caches()
    assert patched == [archive]
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zd_mod_b", raising=False)
    importlib.invalidate_caches()
    assert importlib.import_module("zd_mod_b").Y == 2


@needs_patch
def test_deleted_archive_behaves_as_stock(tmp_path, patched):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    (tmp_path / "mods.zip").unlink()
    imp.invalidate_caches()
    # the stock method: the read fails, the cache entry and files go
    assert patched[-1] == archive
    assert archive not in zipimport._zip_directory_cache
    assert imp._files == {}
    assert imp.find_spec("zd_mod_a") is None
    # a re-created archive is read again
    _write_zip(archive, {"zd_mod_a": "X = 1\n"})
    imp.invalidate_caches()
    assert imp.find_spec("zd_mod_a") is not None


def test_importing_the_daemon_module_changes_nothing():
    """The module ``STATIC_CONF`` names patches and starts nothing
    unless it runs as ``__main__``."""
    module = STATIC_CONF["spark.python.daemon.module"]
    assert module == _pydaemon.__name__
    probe = (f"import sys, zipimport, importlib\n"
             f"importlib.import_module({module!r})\n"
             f"assert zipimport.zipimporter.invalidate_caches.__module__ "
             f"== 'zipimport'\n"
             f"assert 'pyspark.daemon' not in sys.modules\n"
             f"print('ok')\n")
    done = subprocess.run([sys.executable, "-c", probe],
                          cwd=Path(__file__).resolve().parent.parent,
                          capture_output=True, text=True, timeout=120,
                          stdin=subprocess.DEVNULL)
    assert done.returncode == 0, done.stderr
    assert done.stdout.strip() == "ok"


@needs_patch
def test_worker_tasks_do_not_reread_archives(spark):
    """Inside a ``mapInArrow`` task of the test session, the per-task
    ``importlib.invalidate_caches()`` goes through the daemon's patch and
    re-reads no archive, although the worker holds zip importers."""
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa
        for _ in batches:
            pass
        reads = []
        stock_read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return stock_read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
            "reads": [len(reads)], "zips": [zips]})

    rows = (spark.range(1, numPartitions=1)
            .mapInArrow(probe, "module string, reads long, zips long")
            .collect())
    assert len(rows) == 1
    assert rows[0]["zips"] > 0
    assert rows[0]["module"] == "__main__"  # the daemon's main module
    assert rows[0]["reads"] == 0
