"""Spatial join tests: grid join vs broadcast join vs brute force oracle."""

import random

import pytest
from pyspark.sql import functions as F

import duckdb_spatial_spark.functions as ST
from duckdb_spatial_spark.operators import st_join, st_join_broadcast, st_cluster
from duckdb_spatial_spark.geom import kernels as K
from duckdb_spatial_spark.geom.wkt import from_wkt


def _zones_wkt():
    # 4x4 tiling of (0,100)^2, 25x25 cells
    zones = []
    zid = 0
    for i in range(4):
        for j in range(4):
            x0, y0 = i * 25.0, j * 25.0
            zones.append(
                (
                    zid,
                    f"zone_{zid}",
                    f"POLYGON (({x0} {y0}, {x0+25} {y0}, {x0+25} {y0+25}, {x0} {y0+25}, {x0} {y0}))",
                )
            )
            zid += 1
    return zones


@pytest.fixture(scope="module")
def pts_and_zones(spark):
    rng = random.Random(1337)
    pts = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(500)]
    pts_df = spark.createDataFrame(pts, ["pid", "x", "y"]).withColumn(
        "pt", ST.st_point("x", "y")
    )
    zones_df = spark.createDataFrame(_zones_wkt(), ["zid", "zname", "zwkt"]).withColumn(
        "zone", ST.st_geomfromtext("zwkt")
    )
    return pts_df, zones_df, pts


def _oracle_pairs(pts, zones_wkt, pred):
    zones = [(z[0], from_wkt(z[2])) for z in zones_wkt]
    out = set()
    for pid, x, y in pts:
        p = from_wkt(f"POINT ({x} {y})")
        for zid, zg in zones:
            if pred(p, zg):
                out.add((pid, zid))
    return out


def test_broadcast_join_within(spark, pts_and_zones):
    pts_df, zones_df, pts = pts_and_zones
    j = st_join_broadcast(pts_df, zones_df, "within", "pt", "zone")
    got = {(r["pid"], r["zid"]) for r in j.collect()}
    want = _oracle_pairs(pts, _zones_wkt(), K.within)
    assert got == want
    assert len(got) >= 490  # nearly every point lands in exactly one zone


def test_grid_join_within(spark, pts_and_zones):
    pts_df, zones_df, pts = pts_and_zones
    j = st_join(
        pts_df, zones_df, "within", "pt", "zone",
        cell_size=10.0, broadcast_threshold=0,  # force grid path
    )
    got = {(r["pid"], r["zid"]) for r in j.collect()}
    want = _oracle_pairs(pts, _zones_wkt(), K.within)
    assert got == want


def test_grid_join_intersects_polygons(spark):
    # overlapping boxes on both sides — dedup correctness matters here
    rows_a = [(i, f"POLYGON (({x} {y}, {x+12} {y}, {x+12} {y+12}, {x} {y+12}, {x} {y}))")
              for i, (x, y) in enumerate((i * 7.0, (i * 13) % 40) for i in range(30))]
    rows_b = [(i, f"POLYGON (({x} {y}, {x+9} {y}, {x+9} {y+9}, {x} {y+9}, {x} {y}))")
              for i, (x, y) in enumerate((i * 11.0 % 90, (i * 5) % 45) for i in range(25))]
    A = spark.createDataFrame(rows_a, ["aid", "awkt"]).withColumn("ag", ST.st_geomfromtext("awkt"))
    B = spark.createDataFrame(rows_b, ["bid", "bwkt"]).withColumn("bg", ST.st_geomfromtext("bwkt"))
    j = st_join(A, B, "intersects", "ag", "bg", cell_size=8.0, broadcast_threshold=0)
    got = sorted((r["aid"], r["bid"]) for r in j.collect())
    want = sorted(
        (a[0], b[0])
        for a in rows_a
        for b in rows_b
        if K.intersects(from_wkt(a[1]), from_wkt(b[1]))
    )
    assert got == want  # exact match incl. no duplicates from multi-cell pairs


def test_grid_join_no_duplicates(spark, pts_and_zones):
    pts_df, zones_df, pts = pts_and_zones
    j = st_join(pts_df, zones_df, "intersects", "pt", "zone",
                cell_size=3.0, broadcast_threshold=0)
    rows = [(r["pid"], r["zid"]) for r in j.collect()]
    assert len(rows) == len(set(rows))


def test_auto_broadcast_dispatch(spark, pts_and_zones):
    pts_df, zones_df, pts = pts_and_zones
    j = st_join(pts_df, zones_df, "within", "pt", "zone")  # right is tiny
    assert j.count() == len(_oracle_pairs(pts, _zones_wkt(), K.within))


def test_st_cluster_roundtrip(spark, tmp_path):
    rng = random.Random(7)
    pts = [(i, rng.uniform(0, 10000), rng.uniform(0, 10000)) for i in range(5000)]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    clustered = st_cluster(df, "x", "y", num_partitions=8)
    out = str(tmp_path / "clustered.parquet")
    clustered.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == 5000
    # query a small envelope: correctness (pruning effect benchmarked in bench.py)
    n = back.filter((F.col("x") > 450) & (F.col("x") < 650) & (F.col("y") > 450) & (F.col("y") < 650)).count()
    brute = sum(1 for _, x, y in pts if 450 < x < 650 and 450 < y < 650)
    assert n == brute


def test_st_join_points_native_tier(spark):
    import datetime

    from duckdb_spatial_spark.operators.join import st_join_points
    from duckdb_spatial_spark.functions.scalar import st_geomfromtext
    from duckdb_spatial_spark.sources.tables import local_relation
    from pyspark.sql import functions as F

    pts = local_relation(
        spark,
        [(1, 0.5, 0.5), (2, 1.5, 0.5), (3, 5.0, 5.0), (4, 1.0, 0.5)],
        "pid long, x double, y double",
    )
    zones = spark.createDataFrame(
        [(10, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
         (20, "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")],
        ["zid", "zwkt"],
    ).withColumn("zone", st_geomfromtext("zwkt"))

    within = st_join_points(pts, zones, "within", "x", "y", "zone")
    # all-rectangle build side: broadcast straight from a LocalTableScan,
    # no createDataFrame (ExistingRDD) scan left to run Python tasks
    plan = within._jdf.queryExecution().executedPlan().toString()
    bx = plan[plan.index("BroadcastExchange"):].splitlines()
    assert bx[1].strip().startswith("+- LocalTableScan"), plan
    assert "ExistingRDD" not in plan
    got = {(r["pid"], r["zid"]) for r in within.collect()}
    assert got == {(1, 10), (2, 20)}  # boundary point pid=4 excluded

    inter = st_join_points(pts, zones, "intersects", "x", "y", "zone")
    got = {(r["pid"], r["zid"]) for r in inter.collect()}
    assert got == {(1, 10), (2, 20), (4, 10), (4, 20)}  # boundary included

    # a build-side type inline VALUES cannot hold keeps createDataFrame
    day = datetime.date(2020, 1, 2)
    dated = st_join_points(pts, zones.withColumn("day", F.lit(day)),
                           "within", "x", "y", "zone")
    got = {(r["pid"], r["zid"], r["day"]) for r in dated.collect()}
    assert got == {(1, 10, day), (2, 20, day)}


def test_pred_pairs_vectorized_no_perrow_kernel(monkeypatch):
    """Uniform point-vs-rect and seg-vs-seg batches must dispatch to the
    closed-form vector kernels — the per-row kernel must never run
    (the 100-TB hot path of st_join's exact filter)."""
    import numpy as np
    from duckdb_spatial_spark.operators import join as J
    from duckdb_spatial_spark.geom import vec as Vec

    def boom(*a, **k):
        raise AssertionError("per-row kernel called on a uniform batch")

    monkeypatch.setitem(J._KERNELS, "intersects", boom)
    monkeypatch.setitem(J._KERNELS, "within", boom)
    monkeypatch.setitem(J._KERNELS, "crosses", boom)

    # points vs axis-aligned rects
    xs = np.array([1.0, 5.0, 30.0])
    ys = np.array([1.0, 5.0, 30.0])
    pts = np.array(Vec.encode_points(xs, ys), dtype=object)
    ring = np.array([[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]] * 3, dtype=float)
    rects = np.array(Vec.encode_polygons_1ring(ring), dtype=object)
    got = J.pred_pairs("within", pts, rects)
    assert got.tolist() == [True, True, False]
    got = J.pred_pairs("intersects", rects, pts)
    assert got.tolist() == [True, True, False]

    # segment vs segment (non-parallel)
    a = np.array([[[0, 0], [10, 10]]] * 2, dtype=float)
    b = np.array([[[0, 10], [10, 0]], [[20, 30], [30, 10]]], dtype=float)
    segs_a = np.array(Vec.encode_linestrings(a), dtype=object)
    segs_b = np.array(Vec.encode_linestrings(b), dtype=object)
    got = J.pred_pairs("crosses", segs_a, segs_b)
    assert got.tolist() == [True, False]


def test_pred_pairs_pip_bulk_polygon(monkeypatch):
    """Uniform points vs a repeated non-rect polygon take the bulk PiP path."""
    import numpy as np
    from duckdb_spatial_spark.operators import join as J
    from duckdb_spatial_spark.geom import vec as Vec
    from duckdb_spatial_spark.geom.wkt import from_wkt
    from duckdb_spatial_spark.geom.wkb import to_wkb

    def boom(*a, **k):
        raise AssertionError("per-row kernel called on a PiP batch")

    monkeypatch.setitem(J._KERNELS, "within", boom)

    tri = to_wkb(from_wkt("POLYGON ((0 0, 10 0, 0 10, 0 0))"))
    xs = np.array([1.0, 9.0, 20.0])
    ys = np.array([1.0, 9.0, 20.0])
    pts = np.array(Vec.encode_points(xs, ys), dtype=object)
    polys = np.array([tri] * 3, dtype=object)
    got = J.pred_pairs("within", pts, polys)
    assert got.tolist() == [True, False, False]


def test_pred_pairs_mixed_fallback():
    """Mixed-shape batches fall back to exact per-row kernels."""
    import numpy as np
    from duckdb_spatial_spark.operators import join as J
    from duckdb_spatial_spark.geom.wkt import from_wkt
    from duckdb_spatial_spark.geom.wkb import to_wkb

    a = np.array([
        to_wkb(from_wkt("POINT (1 1)")),
        to_wkb(from_wkt("LINESTRING (0 0, 5 5, 9 0)")),
        None,
    ], dtype=object)
    b = np.array([
        to_wkb(from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")),
        to_wkb(from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")),
        to_wkb(from_wkt("POINT (0 0)")),
    ], dtype=object)
    got = J.pred_pairs("within", a, b)
    assert got.tolist() == [True, True, False]


def test_st_join_points_broadcast_guard(spark):
    """An over-budget right side must raise with a redirect to the grid
    tier instead of collecting it all onto the driver. The
    limit(threshold+1) probe means only threshold+1 rows are ever
    fetched."""
    import pytest
    from pyspark.sql import functions as F

    from duckdb_spatial_spark.functions.scalar import st_geomfromtext
    from duckdb_spatial_spark.operators.join import st_join_points

    pts = spark.createDataFrame([(1, 0.5, 0.5)], "pid int, x double, y double")
    zones = spark.range(500).select(
        F.col("id").alias("zid"),
        st_geomfromtext(
            F.lit("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")).alias("zone"),
    )
    with pytest.raises(ValueError, match="st_join"):
        st_join_points(pts, zones, "within", "x", "y", "zone",
                       broadcast_threshold=100)
    with pytest.raises(ValueError, match="st_join"):
        st_join_points(pts, zones, "within", "x", "y", "zone",
                       broadcast_byte_budget=1024)


def test_st_join_broadcast_bounded_build_side(spark, pts_and_zones,
                                              monkeypatch):
    """The build side is read through the bounded probe: above
    runtime.LOCAL_ROW_LIMIT rows it raises with a redirect to the grid
    tier instead of collecting it all onto the driver."""
    from duckdb_spatial_spark import runtime

    pts_df, zones_df, _ = pts_and_zones
    monkeypatch.setattr(runtime, "LOCAL_ROW_LIMIT", 1)
    with pytest.raises(ValueError, match=r"st_join_broadcast: .*>1 rows.*"
                                         r"use st_join"):
        st_join_broadcast(pts_df, zones_df, "within", "pt", "zone")


def _pair_set(df, a="pid", b="zid"):
    return sorted((r[a], r[b]) for r in df.collect())


def test_broadcast_build_side_with_null_and_no_rows(spark, pts_and_zones):
    """A null build geometry matches nothing, and a 0-row build side gives
    a 0-row result of the joined schema, on every broadcast tier."""
    from duckdb_spatial_spark.operators.join import st_join_points

    pts_df, zones_df, _ = pts_and_zones
    tri = spark.createDataFrame(
        [(100, "t", "POLYGON ((0 0, 60 0, 0 60, 0 0))"),
         (101, "null", None)], "zid long, zname string, zwkt string",
    ).withColumn("zone", ST.st_geomfromtext("zwkt"))
    for zones in (zones_df.unionByName(tri), tri):
        grid = _pair_set(st_join(pts_df, zones, "within", "pt", "zone",
                                 broadcast_threshold=0))
        assert grid and all(z != 101 for _, z in grid)
        for tier in (st_join(pts_df, zones, "within", "pt", "zone"),
                     st_join_broadcast(pts_df, zones, "within", "pt", "zone"),
                     st_join_points(pts_df, zones, "within", "x", "y", "zone")):
            assert _pair_set(tier) == grid

    empty = zones_df.filter("zid < 0")
    for tier in (st_join(pts_df, empty, "within", "pt", "zone"),
                 st_join_broadcast(pts_df, empty, "within", "pt", "zone"),
                 st_join_points(pts_df, empty, "within", "x", "y", "zone")):
        assert tier.collect() == []
        assert tier.columns == pts_df.columns + empty.columns


def test_broadcast_left_batches_without_hits_and_mixed_shapes(spark):
    """Left batches with no match emit nothing; a left batch of mixed WKB
    lengths (points, lines, polygons, a null) takes the per-row path and
    agrees with the grid tier and the brute-force oracle."""
    wkts = [f"POINT ({500 + i} {500 + i})" for i in range(40)]  # no hits
    wkts += [
        "POINT (5 5)", "POINT (30 30)", "POINT (25 10)",
        "LINESTRING (1 1, 40 40)", "LINESTRING (60 60, 70 70, 80 60)",
        "POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))",
        "POLYGON ((90 90, 95 90, 95 95, 90 90))", None,
    ]
    left = spark.createDataFrame(
        list(enumerate(wkts)), "pid long, lwkt string", verifySchema=False,
    ).coalesce(1).withColumn("lg", ST.st_geomfromtext("lwkt"))
    zones_df = spark.createDataFrame(
        _zones_wkt(), ["zid", "zname", "zwkt"]
    ).withColumn("zone", ST.st_geomfromtext("zwkt"))
    want = sorted(
        (pid, z[0]) for pid, w in enumerate(wkts) if w is not None
        for z in _zones_wkt() if K.intersects(from_wkt(w), from_wkt(z[2])))
    assert len(want) > 8
    grid = st_join(left, zones_df, "intersects", "lg", "zone",
                   broadcast_threshold=0)
    assert _pair_set(grid) == want
    assert _pair_set(st_join_broadcast(
        left, zones_df, "intersects", "lg", "zone")) == want
    # the 40 far points alone: every batch is hit-free
    far = left.filter("pid < 40")
    assert st_join_broadcast(far, zones_df, "intersects", "lg",
                             "zone").collect() == []


def test_st_join_points_many_build_geometries(spark, pts_and_zones):
    """Over 64 non-rectangle build geometries the point probe buckets the
    points by grid cell; it returns the grid tier's pairs."""
    from duckdb_spatial_spark.operators.join import st_join_points

    pts_df, _, _ = pts_and_zones
    tris = spark.createDataFrame(
        [(i * 10 + j, f"POLYGON (({i * 10} {j * 10}, {i * 10 + 10} {j * 10},"
                      f" {i * 10} {j * 10 + 10}, {i * 10} {j * 10}))")
         for i in range(10) for j in range(10)], "zid long, zwkt string",
    ).withColumn("zone", ST.st_geomfromtext("zwkt"))
    grid = _pair_set(st_join(pts_df, tris, "within", "pt", "zone",
                             broadcast_threshold=0))
    assert len(grid) > 150
    assert _pair_set(st_join_points(
        pts_df, tris, "within", "x", "y", "zone")) == grid
    assert _pair_set(st_join_broadcast(
        pts_df, tris, "within", "pt", "zone")) == grid
