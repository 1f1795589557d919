"""zipguard: Python workers re-read an archive's directory on
``importlib.invalidate_caches()`` only when the archive changed, and the
driver's import system is left alone."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from duckdb_spatial_spark import zipguard


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimport invalidates lazily from 3.13 on")
def test_unchanged_archive_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zg_first.py", "VALUE = 1\n")
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    # restored at teardown, so the guard does not outlive the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)
    for mod in ("zg_first", "zg_second"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("zg_first").VALUE == 1

    assert zipguard.install() and zipguard.installed()
    importlib.invalidate_caches()  # first guarded call reads once
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("zg_second.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module("zg_second").VALUE == 2


def test_guard_installed_in_workers_not_driver(spark):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def guarded(s: pd.Series) -> pd.Series:
        from duckdb_spatial_spark import zipguard as zg

        return pd.Series([zg.installed()] * len(s))

    got = [r[0] for r in spark.range(0, 2000, numPartitions=4)
           .select(guarded("id")).collect()]
    assert len(got) == 2000
    assert set(got) == {sys.version_info < (3, 13)}
    assert not zipguard.installed()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
