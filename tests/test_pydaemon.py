"""The worker daemon's zip-import cache (``ecmm428_pycart_spark.pydaemon``):
an unchanged archive is not re-read by ``importlib.invalidate_caches()``,
a changed or deleted one is handled as the stdlib does, and a
``get_spark`` session's Python workers run under it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ecmm428_pycart_spark import pydaemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding module ``pydaemon_m1``, the patched
    ``invalidate_caches``, and a counter of directory reads of that zip."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"pydaemon_m1": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_stamps", {})
    reads = []
    stdlib_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return stdlib_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(path)
    yield path, reads
    for name in ("pydaemon_m1", "pydaemon_m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_read_once(archive):
    path, reads = archive
    import pydaemon_m1
    assert pydaemon_m1.X == 1
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)
    importlib.invalidate_caches()            # first stamp: one read
    n = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    import pydaemon_m1                       # noqa: F401
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import pydaemon_m2                   # noqa: F401
    _write_zip(path, {"pydaemon_m1": "X = 1\n",
                      "pydaemon_m2": "Y = 'rewritten'\n"})
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    import pydaemon_m2
    assert pydaemon_m2.Y == "rewritten"


def test_deleted_archive_falls_back_to_stdlib(archive):
    path, reads = archive
    import pydaemon_m1                       # noqa: F401
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[path]
    os.remove(path)
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1               # the stdlib read, failing
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
    assert path not in pydaemon._stamps


def test_get_spark_workers_reread_no_archive(spark):
    """In a ``get_spark`` worker a task's ``invalidate_caches()`` reads
    no archive directory, and the worker does hold zip importers (over
    pyspark.zip and the spark-core jar), so the check is not vacuous."""
    import pandas as pd

    assert spark.conf.get("spark.python.daemon.module") == \
        "ecmm428_pycart_spark.pydaemon"

    def probe(pdf):
        import importlib as il
        import sys as s
        import zipimport as zi

        reads = []
        stdlib_read = zi._read_directory
        zi._read_directory = lambda a: reads.append(a) or stdlib_read(a)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = stdlib_read
        n_zip = sum(isinstance(f, zi.zipimporter)
                    for f in s.path_importer_cache.values())
        return pd.DataFrame({"reads": [len(reads)], "zip_importers": [n_zip]})

    rows = (spark.range(4).groupBy("id")
            .applyInPandas(probe, "reads long, zip_importers long")
            .collect())
    assert len(rows) == 4
    assert all(r.reads == 0 for r in rows), rows
    assert all(r.zip_importers >= 1 for r in rows), rows
