"""The stat-checked zip import cache (tesserocr_spark._zipcache): an unchanged
archive is not re-read on importlib.invalidate_caches(), a changed one is,
and the patch reaches the Spark Python workers that run engine UDFs."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from tesserocr_spark import _zipcache

needs_backport = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 re-reads lazily; nothing is patched"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one module, imported once; yields (path,
    reads) where reads lists every directory read of that archive."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    monkeypatch.delitem(sys.modules, "zc_mod_a", raising=False)
    monkeypatch.delitem(sys.modules, "zc_mod_b", raising=False)
    assert importlib.import_module("zc_mod_a").VALUE == 1
    importlib.invalidate_caches()  # first call after the importer exists stamps it

    reads: list[str] = []
    read = zipimport._read_directory

    def counting(a):
        if a == path:
            reads.append(a)
        return read(a)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    _zipcache._stamps.pop(path, None)


@needs_backport
def test_unchanged_zip_is_not_reread(archive):
    path, reads = archive
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zc_mod_a").VALUE == 1


@needs_backport
def test_touched_zip_is_reread(archive):
    path, reads = archive
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert reads == [path]
    importlib.invalidate_caches()
    assert reads == [path]


@needs_backport
def test_zip_rewritten_in_place_is_reread(archive):
    path, reads = archive
    ino = os.stat(path).st_ino
    with pytest.raises(ImportError):
        importlib.import_module("zc_mod_b")
    _write_zip(path, {"zc_mod_a": "VALUE = 1\n", "zc_mod_b": "VALUE = 2\n"})
    assert os.stat(path).st_ino == ino  # same file, new size
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("zc_mod_b").VALUE == 2


@needs_backport
def test_install_twice_is_harmless(archive):
    path, reads = archive
    assert _zipcache.install() and _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
    assert _zipcache._reread is not _zipcache._invalidate_caches
    importlib.invalidate_caches()
    assert reads == []


def test_nothing_patched_from_python_312(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipcache._reread)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert _zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is _zipcache._reread


@needs_backport
def test_engine_workers_do_not_reread_zips(spark):
    """Spark workers import pyspark from pyspark.zip: after an engine UDF ran
    in a worker, importlib.invalidate_caches() (which PySpark calls at the
    start of every task) reads no zip directory. The probe UDF consumes the
    extraction's output, so both run chained in one Python worker per task."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from tesserocr_spark.api import extract_text_only
    from tesserocr_spark.pages import synthetic_pages

    @pandas_udf("string")
    def zip_reads(col: pd.Series) -> pd.Series:
        import importlib
        import os
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return pd.Series([f"{os.getpid()}:{len(reads)}"] * len(col))

    pages = synthetic_pages(spark, 64).repartition(8)
    probe = extract_text_only(pages).select(zip_reads(F.col("extracted_text")).alias("r"))
    pid_reads = {r.r for r in probe.collect()}  # "pid:reads" per batch
    assert pid_reads and all(r.endswith(":0") for r in pid_reads), pid_reads
