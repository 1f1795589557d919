"""The shared binaryFile scan behind the seven whole-file vector readers.

GeoJSON, KML, GPX, DXF, GML, TopoJSON and MVT all read through
sources/filescan.py. One parametrized suite pins the contract they share:
a ``file://`` URI reads the same rows as the plain path, an empty directory
gives an empty frame with the reader's schema, a missing path raises
FileNotFoundError at bind time, and the executed plan is one binaryFile
scan under MapInPandas with no driver-built path list and no shuffle.
"""

import json

import pytest
from pyspark.sql import types as T

from duckdb_spatial_spark.geom.wkt import from_wkt
from duckdb_spatial_spark.geom.wkb import to_wkb
from duckdb_spatial_spark.sources import (read_geojson, st_read_dxf,
                                          st_read_gml, st_read_gpx,
                                          st_read_kml, st_read_mvt,
                                          st_read_topojson)
from duckdb_spatial_spark.sources.dxf import DXF_SCHEMA
from duckdb_spatial_spark.sources.gpx import _SCHEMAS as GPX_SCHEMAS
from duckdb_spatial_spark.sources.kml import KML_SCHEMA
from duckdb_spatial_spark.sources.mvt import MVT_SCHEMA, encode_mvt_tile
from duckdb_spatial_spark.sources.read import GEOJSON_SCHEMA
from duckdb_spatial_spark.sources.topojson import TOPOJSON_SCHEMA

_GEOJSON = json.dumps({"type": "FeatureCollection", "features": [
    {"type": "Feature", "properties": {"name": "a"},
     "geometry": {"type": "Point", "coordinates": [1, 2]}},
    {"type": "Feature", "properties": {"name": "b"},
     "geometry": {"type": "Point", "coordinates": [3, 4]}},
]}).encode()

_KML = b"""<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
<Placemark><name>a</name><Point><coordinates>1,2</coordinates></Point></Placemark>
<Placemark><name>b</name><Point><coordinates>3,4</coordinates></Point></Placemark>
</Document></kml>"""

_GPX = b"""<?xml version="1.0"?>
<gpx version="1.1" xmlns="http://www.topografix.com/GPX/1/1">
<wpt lat="2" lon="1"><name>a</name></wpt>
<wpt lat="4" lon="3"><name>b</name></wpt>
</gpx>"""

_DXF = (b"0\nSECTION\n2\nENTITIES\n"
        b"0\nPOINT\n8\nL0\n10\n1.0\n20\n2.0\n"
        b"0\nPOINT\n8\nL1\n10\n3.0\n20\n4.0\n"
        b"0\nENDSEC\n0\nEOF\n")

_GML = b"""<?xml version="1.0"?>
<wfs:FeatureCollection xmlns:wfs="http://www.opengis.net/wfs"
  xmlns:gml="http://www.opengis.net/gml" xmlns:app="http://example.com/app">
 <gml:featureMember><app:pt><app:name>a</app:name>
  <gml:Point><gml:coordinates>1,2</gml:coordinates></gml:Point>
 </app:pt></gml:featureMember>
 <gml:featureMember><app:pt><app:name>b</app:name>
  <gml:Point><gml:coordinates>3,4</gml:coordinates></gml:Point>
 </app:pt></gml:featureMember>
</wfs:FeatureCollection>"""

_TOPOJSON = json.dumps({"type": "Topology", "arcs": [], "objects": {
    "pts": {"type": "GeometryCollection", "geometries": [
        {"type": "Point", "coordinates": [1, 2], "properties": {"name": "a"}},
        {"type": "Point", "coordinates": [3, 4], "properties": {"name": "b"}},
    ]}}}).encode()

_MVT = encode_mvt_tile({"lyr": [
    (1, bytes(to_wkb(from_wkt("POINT (1 2)"))), {"name": "a"}),
    (2, bytes(to_wkb(from_wkt("POINT (3 4)"))), {"name": "b"}),
]})

# fmt -> (reader, file name, bytes, schema of an empty read)
READERS = {
    "geojson": (read_geojson, "a.geojson", _GEOJSON, GEOJSON_SCHEMA),
    "kml": (st_read_kml, "a.kml", _KML, KML_SCHEMA),
    "gpx": (st_read_gpx, "a.gpx", _GPX, GPX_SCHEMAS["waypoints"]),
    "dxf": (st_read_dxf, "a.dxf", _DXF, DXF_SCHEMA),
    "gml": (st_read_gml, "a.gml", _GML, T.StructType([
        T.StructField("source_file", T.StringType()),
        T.StructField("geom", T.BinaryType())])),
    "topojson": (st_read_topojson, "a.topojson", _TOPOJSON, TOPOJSON_SCHEMA),
    "mvt": (st_read_mvt, "a.mvt", _MVT, MVT_SCHEMA),
}
FORMATS = sorted(READERS)


def _data_dir(tmp_path, fmt):
    _reader, name, payload, _schema = READERS[fmt]
    d = tmp_path / "data"
    d.mkdir()
    (d / name).write_bytes(payload)
    # a file the reader's extension filter must skip in a directory scan
    (d / "notes.txt").write_text("not a feature file")
    return d, d / name


def _rows(df):
    return sorted(str(r) for r in df.collect())


@pytest.mark.parametrize("fmt", FORMATS)
def test_file_uri_reads_same_rows(spark, tmp_path, fmt):
    reader = READERS[fmt][0]
    d, f = _data_dir(tmp_path, fmt)
    for p in (f, d):
        plain = reader(spark, str(p))
        assert {r["source_file"] for r in plain.collect()} == {str(f)}
        rows = _rows(plain)
        assert len(rows) == 2
        assert _rows(reader(spark, p.as_uri())) == rows


@pytest.mark.parametrize("fmt", FORMATS)
def test_empty_directory_gives_empty_frame(spark, tmp_path, fmt):
    reader, _name, _payload, schema = READERS[fmt]
    empty = tmp_path / "empty"
    empty.mkdir()
    df = reader(spark, str(empty))
    assert df.schema == schema
    assert df.count() == 0


@pytest.mark.parametrize("fmt", FORMATS)
def test_missing_path_raises_at_bind(spark, tmp_path, fmt):
    reader, name = READERS[fmt][:2]
    missing = str(tmp_path / "nowhere" / name)
    with pytest.raises(FileNotFoundError, match="nowhere"):
        reader(spark, missing)


@pytest.mark.parametrize("fmt", FORMATS)
def test_plan_is_one_binaryfile_scan(spark, tmp_path, fmt):
    reader = READERS[fmt][0]
    d, _f = _data_dir(tmp_path, fmt)
    df = reader(spark, str(d))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    udf = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    scan = [i for i, ln in enumerate(lines) if "FileScan binaryFile" in ln]
    assert udf and scan and udf[0] < scan[0], plan
    assert "ExistingRDD" not in plan, plan
    assert "Exchange" not in plan, plan
