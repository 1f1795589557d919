"""SQL ``ST_Read`` runs the native readers' own scan plans.

For each of the 15 native formats — a file written by ``st_write``, or a
fixture of the format's own tests for the read-only GML, TopoJSON and OSM
— ``SELECT * FROM ST_Read('<p>')`` has the schema and the rows of
``st_read(spark, p)``. Readers that take a directory are also read
through one, the GeoJSON sink's own output directory among them.
"""

import glob
import json
import os
import shutil
import tempfile
import zipfile

import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.functions import register_sql_functions
from duckdb_spatial_spark.geom import pbf as PBF
from duckdb_spatial_spark.sources import st_read, st_write
from test_gml import _GML2
from test_osm import NODES, RELS, WAYS
from test_topojson import TOPO


def _points(spark):
    return spark.range(3).select(
        F.col("id").alias("k"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("name"),
        F.expr("ST_AsWKB(ST_Point(id * 10 + 1, id * 10 + 2))").alias("geom"))


def _written(ext, **kw):
    def build(spark, d):
        p = str(d / f"a.{ext}")
        st_write(_points(spark), p, **kw)
        return p
    return build


def _text(name, payload):
    def build(spark, d):
        p = d / name
        p.write_text(payload)
        return str(p)
    return build


def _osm(spark, d):
    p = str(d / "mini.osm.pbf")
    PBF.write_osm_pbf(p, NODES, WAYS, RELS)
    return p


def _geojson(spark, d):
    # the sink writes a directory; its one part file is a newline-delimited
    # GeoJSON file
    sink = str(d / "_one.geojson")
    st_write(_points(spark), sink, single_file=True)
    part = next(p for p in os.listdir(sink) if p.startswith("part-"))
    return shutil.copy(os.path.join(sink, part), str(d / "a.geojson"))


# format -> (build(spark, dir) -> path, reads a directory)
INPUTS = {
    "geojson": (_geojson, True),
    "kml": (_written("kml"), True),
    "gpx": (_written("gpx"), True),
    "dxf": (_written("dxf"), True),
    "gml": (_text("a.gml", _GML2), True),
    "topojson": (_text("a.topojson", json.dumps(TOPO)), True),
    "mvt": (_written("mvt"), True),
    "fgb": (_written("fgb"), False),
    "gpkg": (_written("gpkg"), False),
    "gdb": (_written("gdb"), False),
    "tab": (_written("tab"), False),
    "spatialite": (_written("sqlite"), False),
    "mif": (_written("mif"), True),
    "shp": (_written("shp"), False),
    "osm": (_osm, False),
}


def _zipped(fmt, name):
    def build(spark, d):
        src = d / "_zip"
        src.mkdir()
        INPUTS[fmt][0](spark, src)
        p = str(d / name)
        with zipfile.ZipFile(p, "w") as zf:
            for n in os.listdir(src):
                zf.write(src / n, n)
        return p
    return build


# containers: the extraction dir differs per read, so source_file does too
ZIPPED = {"kmz": _zipped("kml", "a.kmz"), "zip": _zipped("shp", "a.zip")}


def _cases():
    for fmt, (_build, takes_dir) in INPUTS.items():
        yield pytest.param(fmt, "file", id=fmt)
        if takes_dir:
            yield pytest.param(fmt, "dir", id=f"{fmt}-dir")
    yield pytest.param("geojson", "sink", id="geojson-sink-dir")
    # Parquet is read by pyarrow in process, the sink's directory too
    yield pytest.param("parquet", "sink", id="parquet-sink-dir")
    for name in ZIPPED:
        yield pytest.param(name, "zip", id=name)


def _path(spark, tmp_path, fmt, form):
    if form == "sink":
        p = str(tmp_path / f"sink.{fmt}")
        st_write(_points(spark), p)
        return p
    if form == "zip":
        return ZIPPED[fmt](spark, tmp_path)
    build = INPUTS[fmt][0]
    if form == "file":
        return build(spark, tmp_path)
    # a directory named with the format's extension, holding the input
    # next to a file the reader's listing must skip
    src = tmp_path / "src"
    src.mkdir()
    f = build(spark, src)
    d = tmp_path / f"dir.{f.rsplit('.', 1)[1]}"
    shutil.copytree(src, d)
    (d / "notes.txt").write_text("not a feature file")
    return str(d)


def _norm(v):
    if isinstance(v, dict):
        return sorted((k, _norm(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _rows(df):
    return sorted((_norm(list(r)) for r in df.collect()), key=repr)


@pytest.mark.parametrize("fmt,form", list(_cases()))
def test_sql_st_read_equals_st_read(spark, tmp_path, fmt, form):
    register_sql_functions(spark)
    p = _path(spark, tmp_path, fmt, form)
    want = st_read(spark, p)
    got = spark.sql(f"SELECT * FROM ST_Read('{p}')")
    if form == "zip":
        want, got = want.drop("source_file"), got.drop("source_file")
    assert got.schema == want.schema
    rows = _rows(want)
    assert rows, p
    assert _rows(got) == rows


@pytest.mark.parametrize("name", list(ZIPPED))
def test_sql_st_read_of_container_removes_its_extraction(spark, tmp_path,
                                                         name):
    """SQL ``ST_Read`` of a KMZ or a zipped shapefile extracts the
    container for its schema and for its rows, and removes both
    extraction directories again."""
    register_sql_functions(spark)
    p = ZIPPED[name](spark, tmp_path)
    pattern = os.path.join(tempfile.gettempdir(), "dss_zip_*")
    before = set(glob.glob(pattern))
    assert spark.sql(f"SELECT * FROM ST_Read('{p}')").collect()
    assert set(glob.glob(pattern)) - before == set()
