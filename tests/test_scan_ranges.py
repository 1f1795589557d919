"""The shared range scan behind the split readers.

FlatGeobuf, GeoPackage, OpenFileGDB, TAB, SpatiaLite, MIF, shapefile, WARC,
WebDataset and OSM PBF read through ``sources.filescan.scan_ranges``; the
Arrow IPC reader keeps its own loop on the same range table. One
parametrized suite pins what they share: the executed plan feeds
MapInPandas from an Exchange over a LocalTableScan of the driver-planned
ranges (no driver-rows RDD scan), and a zero-feature input reads as an
empty frame with the reader's schema. The reader suites check the values.
"""

import tarfile

import pyarrow as pa
import pyarrow.ipc as ipc
import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.geom import pbf as PBF
from duckdb_spatial_spark.geom.wkb import to_wkb
from duckdb_spatial_spark.geom.wkt import from_wkt
from duckdb_spatial_spark.sources import (st_read_arrow, st_read_fgb,
                                          st_read_gpkg, st_read_osm,
                                          st_read_shp, st_read_spatialite,
                                          st_read_warc, st_read_webdataset,
                                          st_write_fgb, st_write_gpkg,
                                          st_write_shp, st_write_spatialite,
                                          st_write_warc, st_write_webdataset)
from duckdb_spatial_spark.sources.filescan import scan_ranges
from duckdb_spatial_spark.sources.gdb import st_read_gdb, st_write_gdb
from duckdb_spatial_spark.sources.mif import st_read_mif, st_write_mif
from duckdb_spatial_spark.sources.tab import st_read_tab, st_write_tab
from duckdb_spatial_spark.sources.tables import local_relation


def _features(spark, n):
    return local_relation(
        spark,
        [(f"f{i}", bytes(to_wkb(from_wkt(f"POINT ({i} {i + 1})"))))
         for i in range(n)],
        "name string, geom binary")


def _sink(write, ext):
    """A writer of ``n`` point features to ``<dir>/<name>.<ext>``."""
    def make(spark, d, name, n):
        path = str(d / f"{name}.{ext}")
        write(_features(spark, n), path)
        return path
    return make


def _warc(spark, d, name, n):
    path = d / name
    if n:
        df = local_relation(
            spark, [(f"http://x/{i}", b"body %d" % i) for i in range(n)],
            "uri string, payload binary")
        st_write_warc(df, str(path), "uri", "payload", num_files=1)
    else:
        path.mkdir()
        (path / "empty.warc").write_bytes(b"")
    return str(path)


def _webdataset(spark, d, name, n):
    path = d / name
    if n:
        df = local_relation(spark, [(f"{i:04d}", b"t%d" % i) for i in range(n)],
                            "key string, txt binary")
        st_write_webdataset(df, str(path), "key", {"txt": "txt"},
                            num_shards=1)
    else:
        path.mkdir()
        tarfile.open(str(path / "empty.tar"), "w").close()
    return str(path)


def _osm(spark, d, name, n):
    path = str(d / f"{name}.osm.pbf")
    PBF.write_osm_pbf(path, [(100 + i, 50.0 + i, 8.0, {"k": "v"})
                             for i in range(n)])
    return path


def _arrow(spark, d, name, n):
    path = str(d / f"{name}.arrow")
    schema = pa.schema([("name", pa.string()), ("v", pa.int64())])
    with ipc.new_file(path, schema) as w:
        if n:
            w.write_table(pa.table({"name": [f"f{i}" for i in range(n)],
                                    "v": list(range(n))}, schema=schema))
    return path


# fmt -> (make(spark, dir, name, n) -> path, reader)
READERS = {
    "fgb": (_sink(st_write_fgb, "fgb"), st_read_fgb),
    "gpkg": (_sink(st_write_gpkg, "gpkg"), st_read_gpkg),
    "gdb": (_sink(lambda df, p: st_write_gdb(df, p, layer="pts"), "gdb"),
            st_read_gdb),
    "tab": (_sink(st_write_tab, "tab"), st_read_tab),
    "spatialite": (_sink(st_write_spatialite, "sqlite"), st_read_spatialite),
    "mif": (_sink(st_write_mif, "mif"), st_read_mif),
    "shp": (_sink(st_write_shp, "shp"), st_read_shp),
    "warc": (_warc, st_read_warc),
    "webdataset": (_webdataset, st_read_webdataset),
    "osm": (_osm, st_read_osm),
    "arrow": (_arrow, st_read_arrow),
}
FORMATS = sorted(READERS)


@pytest.mark.parametrize("fmt", FORMATS)
def test_plan_is_local_table_scan_under_exchange(spark, tmp_path, fmt):
    make, reader = READERS[fmt]
    df = reader(spark, make(spark, tmp_path, "full", 2))
    assert df.count() > 0
    df.collect()
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    plan = "\n".join(lines)
    udf = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    exch = next(i for i, ln in enumerate(lines)
                if i > udf and "Exchange" in ln)
    scan = next(i for i, ln in enumerate(lines)
                if i > exch and "Scan" in ln)
    assert "LocalTableScan" in lines[scan], plan
    assert "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("fmt", FORMATS)
def test_zero_features_give_empty_frame_with_schema(spark, tmp_path, fmt):
    make, reader = READERS[fmt]
    full = reader(spark, make(spark, tmp_path, "full", 2))
    empty = reader(spark, make(spark, tmp_path, "empty", 0))
    assert empty.schema == full.schema
    assert empty.count() == 0


def _one_row_batches(d, n):
    """An Arrow file of ``n`` one-row record batches: with
    ``batches_per_task=1`` each batch is one range."""
    path = str(d / f"b{n}.arrow")
    schema = pa.schema([("name", pa.string())])
    with ipc.new_file(path, schema) as w:
        for i in range(n):
            w.write_table(pa.table({"name": [f"r{i}"]}, schema=schema))
    return path


def test_each_range_gets_its_own_task(spark, tmp_path):
    # the LocalRelation scan runs min(rows, cores) tasks; a round-robin
    # from them put 4 ranges on 3 tasks and 2 ranges on 1 task
    for n in (2, 4, 8):
        names = [f"r{i}" for i in range(n)]
        for df in (scan_ranges(spark, [(x,) for x in names], "name string",
                               lambda name: [(name,)], "name string"),
                   st_read_arrow(spark, _one_row_batches(tmp_path, n),
                                 batches_per_task=1)):
            got = df.select("name",
                            F.spark_partition_id().alias("task")).collect()
            assert sorted(r.name for r in got) == names
            assert len({r.task for r in got}) == n
