"""Spark-layer function tests (DataFrame API + spark.sql registration).

Golden values mirror the reference's sqllogictests (SURVEY §5 tier 1).
"""

import pytest
from pyspark.sql import functions as F

import duckdb_spatial_spark.functions as ST
from duckdb_spatial_spark import register_sql_functions


@pytest.fixture(scope="module")
def geo_df(spark):
    rows = [
        (1, "POINT (1 2)"),
        (2, "LINESTRING (0 0, 3 4)"),
        (3, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
        (4, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"),
        (5, "MULTIPOINT (0 0, 10 0)"),
        (6, "GEOMETRYCOLLECTION (POINT (1 1), POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))"),
        (7, "POINT EMPTY"),
        (8, None),
    ]
    df = spark.createDataFrame(rows, ["id", "wkt"])
    return df.withColumn("geom", ST.st_geomfromtext("wkt")).cache()


def _vals(df, col):
    return {r["id"]: r[col] for r in df.collect()}


def test_roundtrip_wkt(geo_df):
    out = _vals(geo_df.select("id", ST.st_astext("geom").alias("t")), "t")
    assert out[1] == "POINT (1 2)"
    assert out[3] == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    assert out[7] == "POINT EMPTY"
    assert out[8] is None


def test_area_length(geo_df):
    a = _vals(geo_df.select("id", ST.st_area("geom").alias("a")), "a")
    assert a[3] == 100.0 and a[4] == 96.0 and a[1] == 0.0 and a[6] == 4.0
    ln = _vals(geo_df.select("id", ST.st_length("geom").alias("l")), "l")
    assert ln[2] == 5.0 and ln[3] == 0.0


def test_accessors(geo_df):
    x = _vals(geo_df.select("id", ST.st_x("geom").alias("x")), "x")
    assert x[1] == 1.0 and x[2] is None
    t = _vals(geo_df.select("id", ST.st_geometrytype("geom").alias("t")), "t")
    assert t[3] == "POLYGON" and t[6] == "GEOMETRYCOLLECTION"
    n = _vals(geo_df.select("id", ST.st_npoints("geom").alias("n")), "n")
    assert n[3] == 5 and n[4] == 10 and n[7] == 0
    r = _vals(geo_df.select("id", ST.st_ninteriorrings("geom").alias("r")), "r")
    assert r[4] == 1 and r[1] is None


def test_extent_struct(geo_df):
    b = _vals(geo_df.select("id", ST.st_extent("geom").alias("b")), "b")
    assert b[3]["xmin"] == 0.0 and b[3]["xmax"] == 10.0
    assert b[7]["xmin"] is None


def test_predicates_constructed(spark):
    df = spark.createDataFrame([(5.0, 5.0), (0.0, 5.0), (20.0, 20.0)], ["x", "y"])
    df = df.withColumn("pt", ST.st_point("x", "y")).withColumn(
        "env", ST.st_makeenvelope(0, 0, 10, 10)
    )
    rows = df.select(
        ST.st_within("pt", "env").alias("w"),
        ST.st_intersects("pt", "env").alias("i"),
    ).collect()
    assert [r["w"] for r in rows] == [True, False, False]
    assert [r["i"] for r in rows] == [True, True, False]


def test_distance_and_sphere(spark):
    df = spark.createDataFrame([(0.0, 0.0, 3.0, 4.0)], ["x1", "y1", "x2", "y2"])
    r = df.select(
        ST.st_distance(ST.st_point("x1", "y1"), ST.st_point("x2", "y2")).alias("d"),
        ST.st_distance_point2d("x1", "y1", "x2", "y2").alias("d2"),
        ST.st_distance_sphere("x1", "y1", "x2", "y2").alias("ds"),
    ).collect()[0]
    assert r["d"] == 5.0 and r["d2"] == 5.0
    assert r["ds"] == pytest.approx(556000, rel=0.01)  # ~5 degrees on sphere


def test_hilbert_colexpr_matches_python(spark):
    from duckdb_spatial_spark.functions.scalar import hilbert_xy_py

    df = spark.createDataFrame(
        [(float(x), float(y)) for x in (0, 100, 9999) for y in (0, 5000, 9999)],
        ["x", "y"],
    )
    out = df.select(
        "x", "y", ST.st_hilbert_xy("x", "y", 0, 0, 10000, 10000, order=8).alias("h")
    ).collect()
    for r in out:
        xi = min(int(r["x"] / 10000 * 255), 255)
        yi = min(int(r["y"] / 10000 * 255), 255)
        assert r["h"] == hilbert_xy_py(8, xi, yi), (r["x"], r["y"])


def test_quadkey(spark):
    df = spark.createDataFrame([(11.08, 46.04)], ["lon", "lat"])
    qk = df.select(ST.st_quadkey_xy("lon", "lat", 6).alias("q")).collect()[0]["q"]
    # zoom-6 Bing quadkey for (11.08, 46.04): tile (33, 22) → "120221"
    assert qk == "120221"


def test_processing(geo_df):
    h = _vals(geo_df.select("id", ST.st_area(ST.st_convexhull("geom")).alias("h")), "h")
    assert h[5] == 0.0  # two collinear points → line hull
    assert h[3] == 100.0
    c = _vals(geo_df.select("id", ST.st_astext(ST.st_centroid("geom")).alias("c")), "c")
    assert c[3] == "POINT (5 5)"
    e = _vals(geo_df.select("id", ST.st_astext(ST.st_envelope("geom")).alias("e")), "e")
    assert e[2] == "POLYGON ((0 0, 0 4, 3 4, 3 0, 0 0))"


def test_dump_explode(spark, geo_df):
    ex = (
        geo_df.filter("id = 6")
        .select("id", F.explode(ST.st_dump("geom")).alias("d"))
        .select("id", ST.st_astext(F.col("d.geom")).alias("part"), F.col("d.path"))
        .collect()
    )
    assert len(ex) == 2
    assert ex[0]["part"] == "POINT (1 1)" and list(ex[0]["path"]) == [1]


def test_geojson(spark):
    df = spark.createDataFrame([('{"type":"Point","coordinates":[1,2]}',)], ["j"])
    out = df.select(
        ST.st_astext(ST.st_geomfromgeojson("j")).alias("t"),
        ST.st_asgeojson(ST.st_geomfromgeojson("j")).alias("gj"),
    ).collect()[0]
    assert out["t"] == "POINT (1 2)"
    assert out["gj"] == '{"type":"Point","coordinates":[1.0,2.0]}'


def test_hexwkb_roundtrip(geo_df):
    out = _vals(
        geo_df.select(
            "id",
            ST.st_astext(ST.st_geomfromhexwkb(ST.st_ashexwkb("geom"))).alias("t"),
        ),
        "t",
    )
    assert out[1] == "POINT (1 2)" and out[3].startswith("POLYGON")


def test_sql_registration(spark):
    register_sql_functions(spark)
    spark.createDataFrame([("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",)], ["wkt"]).createOrReplaceTempView(
        "sql_geoms"
    )
    row = spark.sql(
        """
        SELECT ST_Area(g) AS a,
               ST_AsText(ST_Centroid(g)) AS c,
               ST_Within(ST_Point(1.0, 1.0), g) AS w,
               ST_Haversine_XY(0.0, 0.0, 1.0, 0.0) AS ds
        FROM (SELECT ST_GeomFromText(wkt) AS g FROM sql_geoms)
        """
    ).collect()[0]
    assert row["a"] == 16.0
    assert row["c"] == "POINT (2 2)"
    assert row["w"] is True
    assert row["ds"] == pytest.approx(111195, rel=1e-3)


def test_extent_agg(spark):
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (1, 5.0, 7.0), (2, -3.0, -2.0)], ["g", "x", "y"]
    ).withColumn("geom", ST.st_point("x", "y"))
    out = {
        r["g"]: r["env"]
        for r in df.groupBy("g")
        .agg(ST.st_astext(ST.st_extent_agg("geom")).alias("env"))
        .collect()
    }
    assert out[1] == "POLYGON ((0 0, 0 7, 5 7, 5 0, 0 0))"


def test_union_agg_disjoint(spark):
    import duckdb_spatial_spark.functions as STF

    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"), (1, "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))")],
        ["g", "wkt"],
    ).withColumn("geom", ST.st_geomfromtext("wkt"))
    out = STF.st_union_agg(df, "geom", ["g"]).collect()
    assert len(out) == 1
    txt = (
        spark.createDataFrame([(out[0]["union_geom"],)], "b binary")
        .select(ST.st_astext("b").alias("t"))
        .collect()[0]["t"]
    )
    assert txt.startswith("MULTIPOLYGON")


def test_transform_webmercator(spark):
    df = spark.createDataFrame([(0.0, 0.0), (1.0, 1.0)], ["x", "y"])
    df = df.withColumn("pt", ST.st_point("x", "y"))
    out = df.select(
        ST.st_astext(
            ST.st_transform("pt", "EPSG:4326", "EPSG:3857")
        ).alias("t")
    ).collect()
    assert out[0]["t"] == "POINT (0 0)"
    # 1°,1° → (111319.49, 111325.14)
    import re

    nums = [float(v) for v in re.findall(r"-?\d+\.?\d*", out[1]["t"])]
    assert nums[0] == pytest.approx(111319.49, rel=1e-4)
    assert nums[1] == pytest.approx(111325.14, rel=1e-4)


def test_spheroid_distance(spark):
    df = spark.createDataFrame([(0.0, 0.0, 1.0, 0.0)], ["x1", "y1", "x2", "y2"])
    d = df.select(ST.st_distance_spheroid("x1", "y1", "x2", "y2").alias("d")).collect()[0]["d"]
    # 1 degree of longitude at equator on WGS84 = 111319.49m
    assert d == pytest.approx(110574.3886, rel=1e-6)  # meridian degree (x = lat)


def test_q61_rtree_workload_count(spark):
    """The reference benchmark's envelope-count workload: expected hit count
    for a uniform distribution is N * (200/10000)^2 = 4000 at N=10M; assert
    within 10% (seeded hash RNG, fully deterministic across runs)."""
    import __spark_entry__ as e

    n = e.q61_rtree_points(spark, "/root/testdata/sf0.001").collect()[0]["n"]
    assert 3600 <= n <= 4400


def test_q60_spheroid_sanity(spark):
    """Exact geodesic sums: meridional rows are 0.5°-18.5° arcs (~55-2050km
    each), equatorial rows 1°-170° arcs; totals positive and plausible."""
    import __spark_entry__ as e

    row = e.q60_spheroid(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n"] > 0
    assert row["merid_sum_m"] > row["n"] * 50_000
    assert row["equat_sum_m"] > row["n"] * 100_000


def test_sql_registration_full_surface(spark):
    """The parity-audit additions: bounds accessors, simplify tier,
    transform, spheroid tier, struct constructors, SQL aggregates."""
    register_sql_functions(spark)
    row = spark.sql(
        """
        SELECT ST_XMax(ST_GeomFromText('LINESTRING (0 -2, 3 4)')) AS xmax,
               ST_YMin(ST_GeomFromText('LINESTRING (0 -2, 3 4)')) AS ymin,
               ST_AsText(ST_RemoveRepeatedPoints(
                   ST_GeomFromText('LINESTRING (0 0, 0 0, 1 1)'), 0.0)) AS rrp,
               ST_AsText(ST_Force3DZ(ST_GeomFromText('POINT (1 2)'), 5.0)) AS f3,
               ST_QuadKey(ST_GeomFromText('POINT (11.08 46.07)'), 3) AS qk,
               ST_Hilbert(ST_GeomFromText('POINT (3 3)'),
                   named_struct('xmin',0.0D,'ymin',0.0D,'xmax',10.0D,'ymax',10.0D)) AS h,
               ST_X(ST_Transform(ST_GeomFromText('POINT (50 10)'),
                                 'EPSG:4326', 'EPSG:3857')) AS tx,
               ST_X(ST_Transform_XY(ST_GeomFromText('POINT (10 50)'),
                                 'EPSG:4326', 'EPSG:3857')) AS tx2,
               ST_Length_Spheroid(ST_GeomFromText('LINESTRING (0 0, 1 0)')) AS lsph,
               ST_DWithin_Spheroid(ST_GeomFromText('POINT (0 0)'),
                                   ST_GeomFromText('POINT (0.001 0)'), 200.0) AS dws,
               ST_Intersects_Extent(ST_GeomFromText('POINT (1 1)'),
                   ST_GeomFromText('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))')) AS ie,
               ST_Point2D(1.0, 2.0).y AS p2y,
               ST_Point4D(1.0, 2.0, 3.0, 4.0).m AS p4m,
               ST_Extent_Approx(ST_GeomFromText('POINT (1 2)')).xmin AS eax,
               ST_Point2DFromWKB(ST_GeomFromText('POINT (7 8)')).x AS pfwx
        """
    ).collect()[0]
    assert row["xmax"] == 3.0 and row["ymin"] == -2.0
    assert row["rrp"] == "LINESTRING (0 0, 1 1)"
    assert row["f3"] == "POINT Z (1 2 5)"
    assert row["qk"] == "120"
    assert row["h"] is not None
    # ST_Transform is authority-compliant like the reference (EPSG:4326
    # input is lat,lon — reference test/sql/proj.test); ST_Transform_XY is
    # the explicit x,y form
    assert row["tx"] == pytest.approx(1113194.9, rel=1e-4)
    assert row["tx2"] == pytest.approx(1113194.9, rel=1e-4)
    # reference axis order is [lat, lon]: LINESTRING (0 0, 1 0) is 1° of
    # LATITUDE — the meridian arc from the equator ≈ 110574.4 m
    assert row["lsph"] == pytest.approx(110574.4, rel=1e-3)
    assert row["dws"] is True and row["ie"] is True
    assert row["p2y"] == 2.0 and row["p4m"] == 4.0
    assert row["eax"] == pytest.approx(1.0, abs=1e-6)
    assert row["pfwx"] == 7.0

    spark.sql(
        "SELECT explode(array(ST_GeomFromText('POINT (0 0)'),"
        " ST_GeomFromText('POINT (5 7)'))) AS g"
    ).createOrReplaceTempView("agg_pts")
    agg = spark.sql(
        """
        SELECT ST_AsText(ST_Extent_Agg(g)) AS ext,
               ST_AsText(ST_Collect_Agg(g)) AS col,
               ST_AsText(ST_Union_Agg(g)) AS uni
        FROM agg_pts
        """
    ).collect()[0]
    assert agg["ext"] == "POLYGON ((0 0, 0 7, 5 7, 5 0, 0 0))"
    assert agg["col"] == "MULTIPOINT (0 0, 5 7)"
    assert agg["uni"] == "MULTIPOINT (0 0, 5 7)"


def test_sql_table_functions(spark):
    """SQL table-function surface via Python UDTFs (Spark 4): the
    reference's ST_GeneratePoints / ST_Drivers / ST_List_Proj_CRS are
    callable from spark.sql."""
    from duckdb_spatial_spark.functions import register_sql_functions

    register_sql_functions(spark)
    r = spark.sql(
        "SELECT count(*) AS n, min(x) >= 0 AND max(x) <= 10 AS ok "
        "FROM ST_GeneratePoints(0.0, 0.0, 10.0, 10.0, 300, 7)"
    ).collect()[0]
    assert r["n"] == 300 and r["ok"]
    assert spark.sql("SELECT * FROM ST_Drivers()").count() >= 10
    assert spark.sql("SELECT * FROM ST_List_Proj_CRS()").count() >= 100


def test_st_read_udtf_and_alias_spellings(spark, tmp_path):
    """``SELECT * FROM ST_Read('x.gpkg')`` works from spark.sql (polymorphic
    UDTF: analyze() derives the schema from the file, eval() decodes
    session-free on the executor) and the reference's ST_Num* alias
    spellings resolve (docs/functions.md registers both ST_N* and
    ST_Num*)."""
    import sqlite3
    import struct

    from duckdb_spatial_spark.functions import register_sql_functions
    from duckdb_spatial_spark.geom.wkb import to_wkb
    from duckdb_spatial_spark.geom.wkt import from_wkt

    register_sql_functions(spark)

    # hand-built 20-point gpkg (same layout as test_gpkg's fixture)
    gpkg = str(tmp_path / "pts.gpkg")
    con = sqlite3.connect(gpkg)
    con.execute("PRAGMA application_id = 1196444487")
    con.execute(
        """CREATE TABLE gpkg_contents (table_name TEXT PRIMARY KEY,
           data_type TEXT, identifier TEXT, description TEXT,
           last_change DATETIME, min_x DOUBLE, min_y DOUBLE,
           max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)"""
    )
    con.execute(
        """CREATE TABLE gpkg_geometry_columns (table_name TEXT,
           column_name TEXT, geometry_type_name TEXT, srs_id INTEGER,
           z TINYINT, m TINYINT)"""
    )
    con.execute("CREATE TABLE pts (fid INTEGER PRIMARY KEY, name TEXT, "
                "geometry BLOB)")
    for i in range(20):
        wkb = to_wkb(from_wkt(f"POINT ({i} {i % 5})"))
        blob = (b"GP\x00\x03" + struct.pack("<i", 0)
                + struct.pack("<4d", float(i), float(i), float(i % 5),
                              float(i % 5)) + wkb)
        con.execute("INSERT INTO pts VALUES (?,?,?)", (i, f"p{i}", blob))
    con.execute("INSERT INTO gpkg_contents VALUES "
                "('pts','features','pts','',NULL,0,0,19,4,0)")
    con.execute("INSERT INTO gpkg_geometry_columns VALUES "
                "('pts','geometry','POINT',0,0,0)")
    con.commit()
    con.close()

    rows = spark.sql(
        f"SELECT name, ST_X(geom) AS x FROM ST_Read('{gpkg}') ORDER BY fid"
    ).collect()
    assert len(rows) == 20
    assert rows[3]["name"] == "p3" and rows[3]["x"] == 3.0

    # geojson through the same UDTF (different schema via analyze)
    gj = tmp_path / "f.geojson"
    gj.write_text(
        '{"type":"FeatureCollection","features":[{"type":"Feature",'
        '"geometry":{"type":"LineString","coordinates":[[0,0],[1,1],[2,0]]},'
        '"properties":{"name":"road"}}]}'
    )
    r = spark.sql(
        f"SELECT ST_NumPoints(geom) AS np, ST_NumGeometries(geom) AS ng "
        f"FROM ST_Read('{gj}')"
    ).collect()[0]
    assert r["np"] == 3 and r["ng"] == 1

    r2 = spark.sql(
        "SELECT ST_NumInteriorRings(ST_GeomFromText("
        "'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))'"
        ")) AS nir"
    ).collect()[0]
    assert r2["nir"] == 1


def test_centroid_agg_matches_collect_centroid(spark):
    """st_centroid_agg (decomposable avg-of-points) == st_centroid of the
    collected multipoint; over a fused st_point it is pure col-expr."""
    from pyspark.sql import functions as F

    import duckdb_spatial_spark.functions as ST
    from duckdb_spatial_spark.geom.wkb import from_wkb

    df = spark.createDataFrame(
        [(i % 3, float(i), float(i * i % 7)) for i in range(30)],
        "g int, x double, y double")
    fused = df.groupBy("g").agg(
        ST.st_centroid_agg(ST.st_point("x", "y")).alias("c"))
    general = (df.withColumn("pt", ST.st_point("x", "y"))
               .groupBy("g").agg(ST.st_collect_agg("pt").alias("coll"))
               .withColumn("c2", ST.st_centroid("coll")))
    a = {r["g"]: (round(r["c"]["x"], 9), round(r["c"]["y"], 9))
         for r in fused.collect()}
    b = {}
    for r in general.collect():
        g2 = from_wkb(bytes(r["c2"]))
        b[r["g"]] = (round(float(g2.coords[0]), 9),
                     round(float(g2.coords[1]), 9))
    assert a == b


def test_sql_drivers_equal_st_drivers(spark):
    from duckdb_spatial_spark.sources import st_drivers

    register_sql_functions(spark)
    assert (spark.sql("SELECT * FROM ST_Drivers()").collect()
            == st_drivers(spark).collect())


_TWIN_POLYS = ("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))",
               "POLYGON ((10 10, 10 12, 13 12, 10 10))")


@pytest.mark.parametrize("sql,api", [
    ("SELECT ST_AsText(ST_Collect_Agg(g)) AS v FROM twins",
     lambda t: t.agg(ST.st_astext(ST.st_collect_agg("g")).alias("v"))),
    ("SELECT ST_Perimeter_Spheroid(g) AS v FROM twins",
     lambda t: t.select(ST.st_perimeter_spheroid("g").alias("v"))),
    # SQL decimal literals reach the UDF as Decimal values
    ("SELECT ST_AsText(ST_MakeEnvelope(0.5, 1.25, 2, 3.75)) AS v",
     lambda t: t.limit(1).select(ST.st_astext(
         ST.st_makeenvelope(0.5, 1.25, 2, 3.75)).alias("v"))),
], ids=["collect_agg", "perimeter_spheroid", "makeenvelope"])
def test_sql_twin_udfs_match_api(spark, sql, api):
    register_sql_functions(spark)
    twins = spark.createDataFrame([(w,) for w in _TWIN_POLYS], "w string") \
        .select(ST.st_geomfromtext("w").alias("g"))
    twins.createOrReplaceTempView("twins")
    try:
        got = sorted(r["v"] for r in spark.sql(sql).collect())
        assert got == sorted(r["v"] for r in api(twins).collect())
        assert got and None not in got
    finally:
        spark.catalog.dropTempView("twins")
