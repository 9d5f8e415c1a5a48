"""``sedona_db_spark._zipcache``: ``importlib.invalidate_caches()`` skips
re-reading a zip archive whose (inode, mtime, size) is unchanged, and still
re-reads a rewritten one.  Python 3.12+ made the invalidation lazy, so
there the module does nothing."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sedona_db_spark import _zipcache

needs_eager_zip = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python 3.12+ re-reads zip archives lazily; nothing to wrap")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a": 1})
    monkeypatch.syspath_prepend(archive)
    yield archive
    sys.path_importer_cache.pop(archive, None)
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose central directory zipimport reads, in call order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@needs_eager_zip
def test_unchanged_archive_not_reread(zip_on_path, reads):
    assert _zipcache.install()
    assert importlib.import_module("zc_mod_a").VALUE == 1
    importlib.invalidate_caches()      # first call after install may read
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert zip_on_path not in reads
    assert importlib.import_module("zc_mod_a").VALUE == 1


@needs_eager_zip
def test_rewritten_archive_is_reread(zip_on_path, reads):
    assert _zipcache.install()
    importlib.import_module("zc_mod_a")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_mod_b")
    _write_zip(zip_on_path, {"zc_mod_a": 1, "zc_mod_b": 2})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert importlib.import_module("zc_mod_b").VALUE == 2


@needs_eager_zip
def test_install_is_idempotent():
    assert _zipcache.install() and _zipcache.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.__module__ == "sedona_db_spark._zipcache"
    assert _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_noop_on_lazy_python(monkeypatch):
    """On Python 3.12+ ``install`` leaves ``zipimporter`` untouched."""
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert _zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is before


@needs_eager_zip
def test_spark_worker_runs_wrapper(spark):
    """A pandas UDF that uses the package, run twice: its worker reports
    the package's ``zipimporter.invalidate_caches``."""
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from sedona_db_spark.geometry import wkb as W

    def probe(batches):
        import zipimport as zi
        W.wkt_to_wkb("POINT (0 0)")
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "impl": [zi.zipimporter.invalidate_caches.__module__]})

    schema = StructType([StructField("pid", LongType()),
                         StructField("impl", StringType())])
    df = spark.range(1).repartition(1)
    rows = [df.mapInPandas(probe, schema).collect()[0] for _ in range(2)]
    assert rows[-1]["pid"] != os.getpid()
    assert rows[-1]["impl"] == "sedona_db_spark._zipcache"
