"""The worker daemon's stat-checked zipimport refresh (worker_daemon.py)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from kafka_flink_processing_spark import worker_daemon


def _write_zip(path, modules):
    part = f"{path}.part"
    with zipfile.ZipFile(part, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    os.replace(part, path)


@pytest.fixture
def stat_checked(monkeypatch):
    """Installs the stat-checked refresh with fresh stamps and counts
    the archive directory reads per archive."""
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    return reads


def test_unchanged_archive_is_not_reread_and_rewrite_is(tmp_path, monkeypatch,
                                                         stat_checked):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"kfps_zip_a": 1})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "kfps_zip_a", raising=False)
    monkeypatch.delitem(sys.modules, "kfps_zip_b", raising=False)
    assert importlib.import_module("kfps_zip_a").VALUE == 1
    importers = [zipimport.zipimporter(archive) for _ in range(3)]
    stat_checked.clear()  # the first import read the directory

    importlib.invalidate_caches()  # stamps the archive: one read
    assert stat_checked.count(archive) == 1
    for _ in range(5):
        importlib.invalidate_caches()
        for imp in importers:
            imp.invalidate_caches()
    assert stat_checked.count(archive) == 1

    _write_zip(archive, {"kfps_zip_a": 2, "kfps_zip_b": 3})
    importlib.invalidate_caches()
    assert stat_checked.count(archive) == 2
    assert importlib.import_module("kfps_zip_b").VALUE == 3
    for imp in importers:
        imp.invalidate_caches()
        assert imp.find_spec("kfps_zip_b") is not None
    assert stat_checked.count(archive) == 2


def test_removed_archive_empties_the_importer(tmp_path, stat_checked):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"kfps_zip_c": 1})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    os.unlink(archive)
    imp.invalidate_caches()
    assert imp.find_spec("kfps_zip_c") is None
    assert archive not in zipimport._zip_directory_cache


def test_install_patches_only_the_eager_refresh(monkeypatch):
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._eager_invalidate)
    assert worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches \
        is worker_daemon.invalidate_caches
    monkeypatch.setattr(worker_daemon, "_eager_invalidate",
                        lambda self: None)
    assert not worker_daemon.install()


def test_pandas_udf_worker_runs_the_stat_checked_refresh(spark):
    """Each worker reports the refresh it runs and the archive reads of
    the second of two back-to-back cache invalidations."""
    from pyspark.sql.functions import pandas_udf

    from kafka_flink_processing_spark.shipping import ensure_shipped

    @pandas_udf("string")
    def refresh(ids: pd.Series) -> pd.Series:
        import importlib
        import os
        import zipimport

        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        importlib.invalidate_caches()
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        fn = zipimport.zipimporter.invalidate_caches
        name = os.path.basename(fn.__code__.co_filename)
        return pd.Series([f"{name}:{fn.__qualname__}:{len(reads)}"] * len(ids))

    ensure_shipped(spark)
    rows = spark.range(4).repartition(2).select(refresh("id").alias("r"))
    assert {r.r for r in rows.collect()} == {
        "worker_daemon.py:invalidate_caches:0"}
