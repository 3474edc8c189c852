"""The worker daemon's stat-checked zip cache invalidation (pydaemon).

Unit tests run on a temporary zip put on `sys.path`; the Spark test checks
that tasks of both worker pools (plain PythonRDD tasks and SQL Python
operators) run in workers that carry the patch.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from elasticsearch_eslib_spark import pydaemon


@pytest.fixture
def fresh_zipimporter(monkeypatch):
    """Restore zipimporter.invalidate_caches after the test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyd_mod_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("pyd_mod_a", "pyd_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimporter re-reads lazily from 3.13 on")
def test_unchanged_archive_is_not_reread(fresh_zipimporter, zip_on_path,
                                         monkeypatch):
    assert importlib.import_module("pyd_mod_a").A == 1
    importer = sys.path_importer_cache[zip_on_path]
    reads = []
    read_directory = zipimport._read_directory

    def recording(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", recording)
    pydaemon.install()
    importer.invalidate_caches()  # first check per archive reads it
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert "pyd_mod_a.py" in importer._files


def test_rewritten_archive_is_reread(fresh_zipimporter, zip_on_path):
    assert importlib.import_module("pyd_mod_a").A == 1
    pydaemon.install()
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"pyd_mod_a": "A = 1\n", "pyd_mod_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("pyd_mod_b").B == 2


def test_install_is_a_noop_from_python_3_13(fresh_zipimporter, monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is before


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the daemon installs nothing from 3.13 on")
def test_both_worker_pools_run_the_stat_checked_daemon(spark):
    # defined here so that cloudpickle ships them by value: workers cannot
    # import this test module
    def state(_=None):
        import zipimport

        return hasattr(zipimport.zipimporter.invalidate_caches,
                       "stat_checked")

    def state_frames(batches):
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"checked": [state()]})

    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "elasticsearch_eslib_spark.pydaemon")
    rdd = spark.sparkContext.parallelize(range(4), 4).map(state).collect()
    sql = [r.checked for r in spark.range(4, numPartitions=4)
           .mapInPandas(state_frames, "checked boolean").collect()]
    assert rdd == [True] * 4
    assert sql == [True] * 4
