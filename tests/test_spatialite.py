"""SpatiaLite native source/sink: BLOB-geometry codec + distributed scan."""

import sqlite3
import struct

import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.geom.wkb import from_wkb, to_wkb
from duckdb_spatial_spark.geom.wkt import from_wkt, to_wkt
from duckdb_spatial_spark.sources import read
from duckdb_spatial_spark.sources.spatialite import (
    is_spatialite, spatialite_blob_to_wkb, spatialite_layers,
    st_read_spatialite, st_write_spatialite, wkb_to_spatialite_blob)

WKTS = [
    "POINT (3 4)",
    "LINESTRING (0 0, 10 0, 10 10)",
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))",
    "MULTIPOINT (1 1, 2 2)",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 5))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))",
    "GEOMETRYCOLLECTION (POINT (9 9), LINESTRING (0 0, 1 2))",
]


def test_blob_codec_roundtrip():
    for w in WKTS:
        wkb = to_wkb(from_wkt(w))
        blob = wkb_to_spatialite_blob(wkb, srid=4326)
        # container invariants
        assert blob[0] == 0x00 and blob[1] == 0x01
        assert blob[38] == 0x7C and blob[-1] == 0xFE
        assert struct.unpack_from("<i", blob, 2)[0] == 4326
        back = spatialite_blob_to_wkb(blob)
        assert to_wkt(from_wkb(back)) == to_wkt(from_wkb(wkb)), w


def test_blob_codec_big_endian_read():
    """Hand-build a big-endian point blob; the reader must honor the
    endian byte."""
    payload = struct.pack(">2d", 7.0, -8.0)
    blob = (bytes([0x00, 0x00]) + struct.pack(">i", 3857)
            + struct.pack(">4d", 7.0, -8.0, 7.0, -8.0) + bytes([0x7C])
            + struct.pack(">i", 1) + payload + bytes([0xFE]))
    g = from_wkb(spatialite_blob_to_wkb(blob))
    assert (g.coords[0], g.coords[1]) == (7.0, -8.0)


def test_compressed_class_gated():
    blob = (bytes([0x00, 0x01]) + struct.pack("<i", 0)
            + struct.pack("<4d", 0, 0, 0, 0) + bytes([0x7C])
            + struct.pack("<i", 1000002) + b"" + bytes([0xFE]))
    with pytest.raises(NotImplementedError, match="compressed"):
        spatialite_blob_to_wkb(blob)


@pytest.fixture()
def sl_db(tmp_path):
    """Hand-built SpatiaLite db: legacy-style geometry_columns + an
    idx_ R*Tree-shaped index table."""
    p = str(tmp_path / "demo.sqlite")
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE geometry_columns (f_table_name TEXT, "
                "f_geometry_column TEXT, geometry_type INTEGER, "
                "coord_dimension INTEGER, srid INTEGER, "
                "spatial_index_enabled INTEGER)")
    con.execute("INSERT INTO geometry_columns VALUES "
                "('pts', 'geometry', 1, 2, 4326, 1)")
    con.execute("CREATE TABLE pts (name TEXT, score REAL, geometry BLOB)")
    con.execute("CREATE TABLE idx_pts_geometry "
                "(pkid INTEGER PRIMARY KEY, xmin REAL, xmax REAL, "
                "ymin REAL, ymax REAL)")
    for i in range(40):
        x, y = float(i), float(i % 10)
        blob = wkb_to_spatialite_blob(
            to_wkb(from_wkt(f"POINT ({x} {y})")), srid=4326)
        con.execute("INSERT INTO pts VALUES (?, ?, ?)",
                    (f"p{i}", i * 0.5, blob))
        con.execute("INSERT INTO idx_pts_geometry VALUES (?, ?, ?, ?, ?)",
                    (i + 1, x, x, y, y))
    con.commit()
    con.close()
    return p


def test_layers_and_scan(spark, sl_db):
    assert is_spatialite(sl_db)
    layers = spatialite_layers(sl_db)
    assert layers[0]["layer"] == "pts" and layers[0]["srid"] == 4326
    df = st_read_spatialite(spark, sl_db, num_partitions=4)
    assert df.count() == 40
    assert set(df.columns) == {"name", "score", "geom"}
    row = df.filter(F.col("name") == "p7").collect()[0]
    g = from_wkb(bytes(row["geom"]))
    assert (g.coords[0], g.coords[1]) == (7.0, 7.0)
    assert row["score"] == pytest.approx(3.5)


def test_bbox_pushdown_rtree(spark, sl_db):
    df = st_read_spatialite(spark, sl_db, bbox=(10.0, 0.0, 19.0, 9.0),
                            num_partitions=3)
    names = {r["name"] for r in df.collect()}
    assert names == {f"p{i}" for i in range(10, 20)}


def test_replacement_scan_and_sink(spark, sl_db, tmp_path):
    df = read(spark, sl_db)
    assert df.count() == 40
    out = str(tmp_path / "out.sqlite")
    st_write_spatialite(df.filter(F.col("score") < 5.0), out, layer="few")
    assert is_spatialite(out)
    back = st_read_spatialite(spark, out, layer="few")
    assert back.count() == 10
    g = from_wkb(bytes(back.filter(F.col("name") == "p3")
                       .collect()[0]["geom"]))
    assert (g.coords[0], g.coords[1]) == (3.0, 3.0)


def test_spatialite_read_meta(spark, sl_db):
    from duckdb_spatial_spark.sources.read import st_read_meta

    r = st_read_meta(spark, sl_db).collect()[0]
    assert r["driver"] == "spatialite" and r["num_row_groups"] == 1
    assert "pts" in r["schema_json"]


def test_boolean_column_reads_as_bigint(spark, tmp_path):
    """SQLite stores BOOLEAN as an integer: the column is typed bigint, as
    the GeoPackage reader types it, and the rows collect."""
    p = str(tmp_path / "flags.sqlite")
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE geometry_columns (f_table_name TEXT, "
                "f_geometry_column TEXT, geometry_type INTEGER, "
                "coord_dimension INTEGER, srid INTEGER)")
    con.execute("INSERT INTO geometry_columns VALUES "
                "('flags', 'geom', 1, 2, 4326)")
    con.execute("CREATE TABLE flags (id INTEGER, ok BOOLEAN, geom BLOB)")
    for i in range(3):
        blob = wkb_to_spatialite_blob(to_wkb(from_wkt(f"POINT ({i} 0)")))
        con.execute("INSERT INTO flags VALUES (?, ?, ?)", (i, i % 2 == 0, blob))
    con.commit()
    con.close()
    df = st_read_spatialite(spark, p)
    assert dict(df.dtypes)["ok"] == "bigint"
    assert sorted((r["id"], r["ok"]) for r in df.collect()) == [
        (0, 1), (1, 0), (2, 1)]
