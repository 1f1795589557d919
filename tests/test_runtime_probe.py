"""runtime.probe_arrow: the one bounded probe behind every guard that
decides whether an operator finishes in the driver or stays in Spark.

The contract under test: (1) a table at exactly ``limit`` rows, None one
row past it, and a 0-row table of the frame's schema for an empty frame;
(2) one job per call, whatever the input's plan; (3) the probed table
holds exactly the values ``collect()`` returns (Spark's own Arrow-to-Row
converter turns it into the same rows), and the broadcast joins, which
ship it as their build side and emit its rows in Arrow, return the grid
tier's rows and value types under any session zone; (4) the guards built
on it (the broadcast joins and ``edit_distance_pairs``' short-string
tier) keep their results and bounds."""

import itertools

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.conversion import ArrowTableToRowsConversion

import duckdb_spatial_spark.functions as ST
from duckdb_spatial_spark.operators.dedup import edit_distance_pairs
from duckdb_spatial_spark.operators.join import (
    st_join, st_join_broadcast, st_join_points)
from duckdb_spatial_spark.runtime import probe_arrow, scoped_conf
from duckdb_spatial_spark.sources.tables import local_relation
from duckdb_spatial_spark.streaming import drain, streaming_spatial_join

_TZ = "spark.sql.session.timeZone"
_GROUPS = itertools.count()


def _jobs_of(spark, fn):
    """(fn's result, the number of jobs it ran), counted by job group."""
    sc = spark.sparkContext
    gid = f"probe-{next(_GROUPS)}"
    sc.setJobGroup(gid, "probe job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_limit_is_exact(spark):
    df = spark.range(10)
    t = probe_arrow(df, 10)
    assert isinstance(t, pa.Table) and t.num_rows == 10
    assert sorted(t.column("id").to_pylist()) == list(range(10))
    assert probe_arrow(df, 9) is None


def test_empty_frame_keeps_its_schema(spark):
    df = spark.range(5).filter("id < 0").select(
        "id", F.lit("x").alias("s"), F.col("id").cast("double").alias("v"))
    t = probe_arrow(df, 3)
    assert t.num_rows == 0
    assert t.column_names == ["id", "s", "v"]
    assert [f.type for f in t.schema] == [pa.int64(), pa.string(),
                                          pa.float64()]


def test_one_job_per_probe(spark):
    rows = [(i, f"s{i}") for i in range(50)]

    def py_pass(it):
        yield from it

    frames = {
        "local_relation": local_relation(spark, rows, "i long, s string"),
        "shuffle": spark.range(5000).groupBy((F.col("id") % 97).alias("k"))
        .count(),
        "map_in_pandas": spark.range(0, 3000, numPartitions=4)
        .mapInPandas(py_pass, "id long"),
    }
    # the engine's benchmark profile: with AQE on, each shuffle stage is
    # submitted as a job of its own, whatever the action
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        for name, df in frames.items():
            for limit in (10, 100_000):
                t, jobs = _jobs_of(spark, lambda: probe_arrow(df, limit))
                assert jobs == 1, (name, limit, jobs)
                assert (t is None) == (limit == 10), (name, limit)


def _typed_frame(spark):
    """Every type the broadcast joins carry on their build side, nulls
    included; ``st``'s fields are declared non-nullable while ``st``
    itself is null in some rows."""
    return spark.range(4).selectExpr(
        "id",
        "if(id = 1, null, 's' || id) AS s",
        "if(id = 2, null, named_struct('k', 1, 'm', map('x', id)))"
        " AS st",
        "map('p', id * 1.5D) AS mp",
        "array(id, null) AS arr",
        "date_add(DATE'2024-03-09', cast(id AS int)) AS d",
        # 02:30 on 2024-03-10 falls in Los Angeles' daylight-saving gap
        "TIMESTAMP'2024-03-10 02:30:00' + make_interval(0, 0, 0, 0,"
        " cast(id AS int)) AS ts",
        "TIMESTAMP_NTZ'2024-03-10 02:30:00' AS tsn",
        "cast(id / 4 AS decimal(10, 2)) AS dec",
        "cast(if(id = 3, null, cast(id AS string)) AS binary) AS b",
        "cast(null AS binary) AS nb")


def test_converted_probe_equals_collect(spark):
    with scoped_conf(spark, {_TZ: "America/Los_Angeles"}):
        df = _typed_frame(spark)
        got = ArrowTableToRowsConversion.convert(probe_arrow(df, 10),
                                                 df.schema)
        want = df.collect()
    key = lambda r: r["id"]  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    assert got == want
    for g, w in zip(got, want):
        assert [type(v) for v in g] == [type(v) for v in w]


def _zones(spark, boxes):
    """Four zones over (0, 20)^2 — axis boxes or triangles — with the
    typed columns of :func:`_typed_frame` riding along."""
    wkt = []
    for i, (x0, y0) in enumerate(((0, 0), (10, 0), (0, 10), (10, 10))):
        x1, y1 = x0 + 10, y0 + 10
        ring = (f"{x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}"
                if boxes else f"{x0} {y0}, {x1} {y0}, {x0} {y1}, {x0} {y0}")
        wkt.append((i, f"POLYGON (({ring}))"))
    z = spark.createDataFrame(wkt, "zid long, zwkt string")
    return (_typed_frame(spark).join(z, F.col("id") == F.col("zid"))
            .drop("id").withColumn("zone", ST.st_geomfromtext("zwkt")))


@pytest.fixture(scope="module")
def points(spark):
    pts = [(i, (i * 7.3) % 20.0, (i * 3.1) % 20.0) for i in range(200)]
    return spark.createDataFrame(pts, "pid long, x double, y double") \
        .withColumn("pt", ST.st_point("x", "y"))


def _rows(df):
    return sorted(df.collect(), key=lambda r: (r["pid"], r["zid"]))


@pytest.mark.parametrize("boxes", [True, False], ids=["boxes", "triangles"])
def test_broadcast_joins_carry_typed_build_sides(spark, points, boxes,
                                                 tmp_path):
    # session zones other than the process zone: a TIMESTAMP on the build
    # side must not shift (Asia/Kathmandu), and the TIMESTAMP_NTZ 02:30,
    # in Los Angeles' daylight-saving gap, must pass through unchanged
    src = str(tmp_path / "points")
    points.select("pid", "x", "y").write.parquet(src)
    stream = (spark.readStream.schema("pid long, x double, y double")
              .parquet(src).withColumn("pt", ST.st_point("x", "y")))
    for tz in ("Asia/Kathmandu", "America/Los_Angeles"):
        with scoped_conf(spark, {_TZ: tz}):
            zones = _zones(spark, boxes)
            grid = _rows(st_join(points, zones, "within", "pt", "zone",
                                 broadcast_threshold=0))
            assert len(grid) > 50
            tiers = {
                "st_join": st_join(points, zones, "within", "pt", "zone"),
                "st_join_broadcast": st_join_broadcast(
                    points, zones, "within", "pt", "zone"),
                "st_join_points": st_join_points(
                    points, zones, "within", "x", "y", "zone"),
                "streaming": drain(streaming_spatial_join(
                    stream, zones, "within", "pt", "zone"), "append"),
            }
            for name, tier in tiers.items():
                got = _rows(tier)
                assert got == grid, (tz, name)
                for g, w in zip(got, grid):
                    assert [type(v) for v in g] == [type(v) for v in w]


def test_edit_distance_short_cap_is_exact(spark):
    # 5 one-char strings: 10 candidate pairs, all within distance 1
    df = spark.createDataFrame([(i, "abcde"[i]) for i in range(5)],
                               "id long, t string")
    got = edit_distance_pairs(df, "id", "t", max_distance=1,
                              max_short_rows=5).collect()
    assert sorted((r.id_a, r.id_b, r.distance) for r in got) == [
        (a, b, 1) for a in range(5) for b in range(a + 1, 5)]
    with pytest.raises(ValueError, match=">4 strings shorter"):
        edit_distance_pairs(df, "id", "t", max_distance=1, max_short_rows=4)
