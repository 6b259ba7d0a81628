"""Zip-archive re-read guard (package ``_zip_cache``): unchanged archives
are not re-read on ``invalidate_caches``, rewritten ones are, and the
package installs the guard inside PySpark workers only."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from distributed_web_crawling_and_indexing_system_gcp_spark import _zip_cache


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(name, "X = 1\n")


@pytest.fixture
def read_count(monkeypatch):
    """Guard zipimporter in this test only; count archive directory reads."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        _zip_cache.cached_invalidate(zipimport.zipimporter.invalidate_caches),
    )
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_not_reread(tmp_path, read_count):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a.py"])
    importers = [zipimport.zipimporter(archive),
                 zipimport.zipimporter(os.path.join(archive, "pkg"))]
    read_count.clear()
    for imp in importers:
        imp.invalidate_caches()
    # the first call reads (no stamp yet), the second importer reuses it
    assert read_count == [archive]
    read_count.clear()
    for imp in importers:
        imp.invalidate_caches()
    assert read_count == []
    assert "a.py" in importers[1]._files


def test_rewritten_archive_reread(tmp_path, read_count):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a.py"])
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    st = os.stat(archive)
    _write_zip(archive, ["a.py", "b.py"])
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    read_count.clear()
    imp.invalidate_caches()
    assert read_count == [archive]
    assert "b.py" in imp._files
    assert imp.find_spec("b") is not None


def test_removed_archive_handled_as_before(tmp_path, read_count):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a.py"])
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_driver_not_patched():
    assert not _zip_cache.installed()


def test_guard_installed_in_worker(spark):
    @pandas_udf("string")
    def report(x: pd.Series) -> pd.Series:
        import importlib as il
        import zipimport as zi

        from distributed_web_crawling_and_indexing_system_gcp_spark import (
            _zip_cache as zc,
        )

        il.invalidate_caches()
        reads = []
        original = zi._read_directory

        def counting(archive):
            reads.append(archive)
            return original(archive)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = original
        zips = sum(
            isinstance(f, zi.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        return pd.Series([f"{zc.installed()} {len(reads)} {zips}"] * len(x))

    rows = spark.range(4).repartition(2).select(report("id").alias("r")).collect()
    for row in rows:
        installed, reads, zips = row["r"].split()
        if sys.version_info >= (3, 13):
            assert installed == "False"
        else:
            assert installed == "True"
            # the worker imports from zip archives (pyspark.zip), and a
            # second invalidation re-reads none of them
            assert int(zips) > 0
            assert reads == "0"


def test_install_is_idempotent(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    if sys.version_info >= (3, 13):
        assert _zip_cache.install() is False
        assert not _zip_cache.installed()
        return
    assert _zip_cache.install() is True
    wrapped = zipimport.zipimporter.invalidate_caches
    assert _zip_cache.install() is True
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert _zip_cache.installed()
    importlib.invalidate_caches()
