"""Native OpenFileGDB source/sink (geom/gdbtable.py, sources/gdb.py).

The reference's own GDB test is a write→read roundtrip
(test/sql/gdal/st_read_gdb.test: COPY point+attr TO x.gdb, then
st_read(x.gdb) → `10  POINT (1 2)`); the tests here mirror that shape and
add codec-level checks: varint edge cases, shape-blob roundtrips for every
geometry class, null handling, catalog/layer resolution, distributed scan
vs the session-free local decode oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.geom import gdbtable as GT
from duckdb_spatial_spark.geom.wkb import from_wkb, to_wkb
from duckdb_spatial_spark.geom.wkt import from_wkt, to_wkt
from duckdb_spatial_spark.sources import read, st_write
from duckdb_spatial_spark.sources.gdb import (gdb_layers, st_read_gdb,
                                              st_write_gdb)


# ----------------------------------------------------------- codec units

def test_varuint_roundtrip():
    for v in (0, 1, 127, 128, 300, 2 ** 20, 2 ** 40, 2 ** 56 + 12345):
        buf = GT._enc_varuint(v)
        got, pos = GT._dec_varuint(buf, 0)
        assert got == v and pos == len(buf)


def test_svarint_roundtrip_and_sign_bit():
    # FGDB signed varints carry the sign in bit 6 of the FIRST byte
    for v in (0, 1, -1, 63, -63, 64, -64, 2 ** 30, -2 ** 30, 12345678901,
              -12345678901):
        buf = GT._enc_svarint(v)
        got, pos = GT._dec_svarint(buf, 0)
        assert got == v and pos == len(buf)
    assert GT._enc_svarint(-1)[0] & 0x40  # sign bit set
    assert not GT._enc_svarint(1)[0] & 0x40
    # 6 value bits in byte 0: 63 fits in one byte, 64 needs two
    assert len(GT._enc_svarint(63)) == 1
    assert len(GT._enc_svarint(64)) == 2


@pytest.mark.parametrize("wkt", [
    "POINT (1 2)",
    "POINT (-179.999999999 89.123456789)",
    "MULTIPOINT (0 0, 5 7, -3 2)",
    "LINESTRING (0 0, 10 0, 10 10)",
    "MULTILINESTRING ((0 0, 1 1), (5 5, 6 7, 8 8))",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))",
    "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 10, 12 10, 12 12, 10 12, 10 10)))",
])
def test_shape_blob_roundtrip(wkt):
    fd = GT.FieldDef("SHAPE", GT.FT_GEOMETRY)
    g = from_wkt(wkt)
    blob = GT.encode_shape(g, fd)
    back = GT.decode_shape(blob, fd)
    # vertex-set equality at quantization precision (1e-9 at scale 1e9);
    # polygon ring winding is canonicalized by the codec so compare
    # coordinates via the area/length invariants plus vertex multiset
    va = np.vstack(list(g.vertex_arrays()))
    vb = np.vstack(list(back.vertex_arrays()))
    assert va.shape == vb.shape
    sa = va[np.lexsort(va[:, :2].T)]
    sb = vb[np.lexsort(vb[:, :2].T)]
    assert np.abs(sa[:, :2] - sb[:, :2]).max() < 2e-9
    assert back.type_id in (g.type_id,)


def test_shape_blob_empty_point():
    fd = GT.FieldDef("SHAPE", GT.FT_GEOMETRY)
    from duckdb_spatial_spark.geom.core import Geometry, POINT

    blob = GT.encode_shape(Geometry.empty(POINT), fd)
    assert GT.decode_shape(blob, fd).is_empty()


def test_table_roundtrip_all_types_and_nulls(tmp_path):
    fields = [
        GT.FieldDef("OBJECTID", GT.FT_OBJECTID, nullable=False),
        GT.FieldDef("name", GT.FT_STRING),
        GT.FieldDef("kind", GT.FT_INT32),
        GT.FieldDef("score", GT.FT_FLOAT64),
        GT.FieldDef("payload", GT.FT_BINARY),
        GT.FieldDef("SHAPE", GT.FT_GEOMETRY),
    ]
    rows = [
        [1, "alpha", 7, 1.5, b"\x01\x02", from_wkt("POINT (1 2)")],
        [2, None, None, None, None, None],
        [3, "gamma", -12, -2.25, b"", from_wkt("LINESTRING (0 0, 3 4)")],
    ]
    base = str(tmp_path / "t")
    GT.write_table(base, fields, rows, layer_geom="POINT")
    n, rfields = GT.read_header_and_fields(base + ".gdbtable")
    assert n == 3
    assert [f.name for f in rfields] == [f.name for f in fields]
    assert [f.ftype for f in rfields] == [f.ftype for f in fields]
    offs = GT.read_tablx(base + ".gdbtablx")
    assert len(offs) == 3 and (offs > 0).all()
    got = GT.read_rows(base + ".gdbtable", rfields, offs)
    assert got[0][:5] == (1, "alpha", 7, 1.5, b"\x01\x02")
    assert to_wkt(got[0][5]) == "POINT (1 2)"
    assert got[1] == (2, None, None, None, None, None)
    assert got[2][2] == -12 and got[2][3] == -2.25
    assert to_wkt(got[2][5]) == "LINESTRING (0 0, 3 4)"


# ------------------------------------------------- catalog + spark paths

def _write_fixture_gdb(spark, path, n=300):
    df = spark.range(n).select(
        F.col("id").cast("int").alias("i"),
        F.concat(F.lit("row"), F.col("id")).alias("name"),
        (F.col("id") * 0.5).alias("score"),
    )
    from duckdb_spatial_spark.functions import scalar as S

    df = df.withColumn(
        "geom", S.st_aswkb(S.st_point(F.col("i") % 20, (F.col("i") / 20)))
    )
    st_write_gdb(df, str(path), layer="pts", geom_col="geom")
    return df


def test_reference_roundtrip_shape(spark, tmp_path):
    """The reference's own test case: write (POINT(1 2), 10), read it back."""
    df = spark.createDataFrame([(10,)], "i int")
    from duckdb_spatial_spark.functions import scalar as S

    df = df.withColumn("geom", S.st_aswkb(S.st_point(F.lit(1.0), F.lit(2.0))))
    gdb = tmp_path / "test.gdb"
    st_write(df, str(gdb), fmt="gdb")
    out = read(spark, str(gdb)).collect()
    assert len(out) == 1
    assert out[0]["i"] == 10
    assert to_wkt(from_wkb(bytes(out[0]["geom"]))) == "POINT (1 2)"


def test_layers_and_catalog(spark, tmp_path):
    gdb = tmp_path / "zones.gdb"
    _write_fixture_gdb(spark, gdb)
    assert gdb_layers(str(gdb)) == ["pts"]
    cat = GT.read_catalog(str(gdb))
    assert cat[0] == (1, "GDB_SystemCatalog")
    assert (9, "pts") in cat


def test_distributed_read_matches_local_oracle(spark, tmp_path):
    """Row count + per-row geometry hash of the 7-range distributed scan
    equal a one-range read of the whole table (the oracle)."""
    import hashlib

    gdb = tmp_path / "zones.gdb"
    _write_fixture_gdb(spark, gdb, n=500)
    df = st_read_gdb(spark, str(gdb), num_partitions=7)
    rows = df.orderBy("OBJECTID").collect()
    one = st_read_gdb(spark, str(gdb), num_partitions=1)
    schema, lrows = one.schema, one.orderBy("OBJECTID").collect()
    assert len(rows) == len(lrows) == 500
    assert [f.name for f in df.schema.fields] == [f.name for f in schema.fields]

    def h(rs, geti):
        m = hashlib.sha256()
        for r in rs:
            m.update(repr(geti(r)).encode())
        return m.hexdigest()

    assert h(rows, lambda r: (r["OBJECTID"], r["i"], r["name"],
                              round(r["score"], 9), bytes(r["geom"]))) == \
        h(lrows, lambda r: (r[0], int(r[1]), r[2], round(r[3], 9), bytes(r[4])))


def test_read_options_columns_bbox(spark, tmp_path):
    gdb = tmp_path / "zones.gdb"
    _write_fixture_gdb(spark, gdb)
    cols = st_read_gdb(spark, str(gdb), columns=["i"]).columns
    assert cols == ["i", "geom"]
    sub = st_read_gdb(spark, str(gdb), bbox=(0, 0, 5, 5)).count()
    assert 0 < sub < 300
    with pytest.raises(ValueError, match="no layer"):
        st_read_gdb(spark, str(gdb), layer="nope")


def test_gdb_udtf_sql_surface(spark, tmp_path):
    from duckdb_spatial_spark.functions import register_sql_functions

    register_sql_functions(spark)
    gdb = tmp_path / "zones.gdb"
    _write_fixture_gdb(spark, gdb, n=40)
    r = spark.sql(
        f"SELECT count(*) AS n, sum(i) AS si FROM ST_Read('{gdb}')"
    ).collect()[0]
    assert r["n"] == 40 and r["si"] == sum(range(40))


def test_write_negative_coordinates_derive_origin(spark, tmp_path):
    """Coordinates below the default -400 origin (e.g. TPC-H acctbal)
    must not hang/overflow: the writer derives origins from the layer
    extent (regression for the q68 varuint infinite loop)."""
    from duckdb_spatial_spark.functions import scalar as S

    df = spark.createDataFrame(
        [(1, -987.65, -12.0), (2, 9999.99, 99.0)], "k int, x double, y double"
    ).select("k", S.st_aswkb(S.st_point("x", "y")).alias("geom"))
    gdb = tmp_path / "neg.gdb"
    st_write_gdb(df, str(gdb), layer="pts")
    back = st_read_gdb(spark, str(gdb)).orderBy("OBJECTID").collect()
    g1 = from_wkb(bytes(back[0]["geom"]))
    assert float(g1.coords[0]) == pytest.approx(-987.65, abs=1e-6)
    assert float(g1.coords[1]) == pytest.approx(-12.0, abs=1e-6)


def test_read_meta_gdb(spark, tmp_path):
    from duckdb_spatial_spark.sources import st_read_meta

    gdb = tmp_path / "zones.gdb"
    _write_fixture_gdb(spark, gdb, n=60)
    m = st_read_meta(spark, str(gdb)).collect()[0]
    assert m["driver"] == "gdb" and m["num_rows"] == 60
    assert m["num_row_groups"] == 1  # one layer
    assert "pts" in m["schema_json"]
