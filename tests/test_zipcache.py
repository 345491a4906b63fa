"""The stat-checked zip-archive directories (``literature_to_facts_spark.zipcache``)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from literature_to_facts_spark import zipcache

needs_eager_zip_invalidation = pytest.mark.skipif(
    not (3, 10) <= sys.version_info[:2] < (3, 13),
    reason="only CPython 3.10-3.12 re-read zip directories on invalidation",
)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def count_reads(monkeypatch):
    """A list that collects the archive of every zip directory read."""
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_eager_zip_invalidation
def test_unchanged_archive_is_not_reread(tmp_path, count_reads):
    archive = str(tmp_path / "zc_pkg.zip")
    _write_zip(archive, {"zc_pkg/__init__.py": "", "zc_pkg/a.py": "X = 1\n"})
    saved_path = list(sys.path)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zc_pkg.a").X == 1
        assert count_reads == [archive]  # the importer's creation
        del count_reads[:]
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in count_reads

        # a rewritten archive is read again, once, and its new module imports
        fresh = str(tmp_path / "fresh.zip")
        _write_zip(fresh, {"zc_pkg/__init__.py": "", "zc_pkg/a.py": "X = 1\n",
                           "zc_pkg/b.py": "Y = 2\n"})
        os.replace(fresh, archive)
        importlib.invalidate_caches()
        assert importlib.import_module("zc_pkg.b").Y == 2
        assert count_reads.count(archive) == 1
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in [m for m in sys.modules if m == "zc_pkg" or m.startswith("zc_pkg.")]:
            del sys.modules[name]


@needs_eager_zip_invalidation
def test_missing_archive_falls_back_to_the_stdlib(tmp_path, count_reads):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"m.py": ""})
    importer = zipimport.zipimporter(archive)
    del count_reads[:]
    os.unlink(archive)
    importer.invalidate_caches()
    assert count_reads == [archive]  # the stdlib's attempt, which fails
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_install_is_idempotent():
    before = (zipimport._read_directory, zipimport.zipimporter.invalidate_caches)
    zipcache.install()
    assert (zipimport._read_directory, zipimport.zipimporter.invalidate_caches) == before
    if (3, 10) <= sys.version_info[:2] < (3, 13):
        assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches
    else:
        assert zipimport.zipimporter.invalidate_caches is not zipcache.invalidate_caches


@needs_eager_zip_invalidation
def test_python_workers_share_one_directory_per_archive(spark):
    """In a Python worker that imported the package, an
    ``importlib.invalidate_caches()`` after the first one (pyspark makes one
    at every task's start) re-reads no archive, and every importer of an
    archive holds the one shared directory."""

    def probe(batches):
        import zipimport as zi

        reads = []
        read = zi._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        importlib.invalidate_caches()  # stands in for pyspark's own call
        zi._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = read
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zi.zipimporter)]
        for _ in batches:
            pass
        yield pd.DataFrame([{
            "installed": zi.zipimporter.invalidate_caches is zipcache.invalidate_caches,
            "reads": len(reads),
            "importers": len(importers),
            "archives": len({f.archive for f in importers}),
            "directories": len({id(f._files) for f in importers}),
        }])

    rows = (
        spark.range(0, 8, 1, 8)
        .mapInPandas(probe, "installed boolean, reads int, importers int, "
                            "archives int, directories int")
        .collect()
    )
    assert len(rows) == 8
    for r in rows:
        assert r["installed"]
        assert r["reads"] == 0
        assert r["importers"] > 0
        assert r["directories"] == r["archives"]
