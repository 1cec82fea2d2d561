"""Zip import directories are re-read only when the archive changed
(``pcrawler_spark/_zipcache.py``): pyspark's worker invalidates the import
caches on every task, and on Python 3.11 each zipimporter re-reads its
archive's central directory when asked to."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import pcrawler_spark  # noqa: F401  (installs the wrapper)


def _write_zip(path, module):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{module}.py", f"NAME = {module!r}\n")
    os.replace(tmp, path)  # a rebuild swapped in: new inode


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "zz_a")
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zz_a", "zz_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("zz_a").NAME == "zz_a"
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read(archive))
    # the importer was created after the wrapper was installed: its first
    # invalidation re-reads once to learn the archive's key
    importlib.invalidate_caches()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 0

    _write_zip(zip_on_path, "zz_b")
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert importlib.import_module("zz_b").NAME == "zz_b"

    # stat fails → the original method runs every time
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 3


def test_install_is_idempotent():
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.stat_keyed
    importlib.reload(importlib.import_module("pcrawler_spark._zipcache"))
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_warm_python_worker_rereads_no_zip_directory(spark):
    """Each task reports the zip directory reads its worker made since that
    worker's previous task (pyspark's per-task ``invalidate_caches`` falls
    in between).  After a warm-up pass has imported the package in every
    worker, a task re-reads nothing (without the wrapper: ~17 per task)."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pcrawler_spark  # noqa: F401

        read = zipimport._read_directory
        if hasattr(read, "calls"):
            since = read.calls - read.seen
        else:  # first probe task in this worker: start counting
            def counted(archive, _read=read):
                counted.calls += 1
                return _read(archive)

            counted.calls = 0
            zipimport._read_directory = read = counted
            since = -1
        read.seen = read.calls
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [since],
                            "zipimporters": [n_zip]})

    def run():
        return spark.range(0, 8, numPartitions=8).mapInPandas(
            probe, "pid long, reads long, zipimporters long").collect()

    run()  # warm-up: every worker imports the package and starts counting
    rows = run()
    if not any(r.zipimporters for r in rows):
        pytest.skip("the Python workers cache no zipimporter")
    measured = [r.reads for r in rows if r.reads >= 0]
    assert measured, rows  # a fresh worker per task would measure nothing
    assert measured == [0] * len(measured), rows
