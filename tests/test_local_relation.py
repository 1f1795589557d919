"""local_relation: the LocalRelation builder on a pyarrow.Table.

The contract under test: (1) values round-trip exactly — floats bit for
bit, naive datetimes in TIMESTAMP columns read in the process's local zone
as createDataFrame(list) reads them, and schemas taken from a plan (with
non-nullable struct fields) accepted; (2) the result is a true
LocalRelation at any size — collect() and broadcast builds answer from
executeCollect with zero jobs, unlike createDataFrame's RDD scan; (3)
malformed rows and out-of-range integers raise a clear ValueError."""

import datetime
import decimal
import math
import os
import subprocess
import sys

import pytest
from pyspark.sql import types as T

from duckdb_spatial_spark.sources.tables import local_relation


def _jobs(spark):
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None)
               or [])


def test_roundtrip_floats_exact(spark):
    import struct

    # awkward doubles: denormal, shortest-repr tie, huge, negative zero
    vals = [0.1, 0.30000000000000004, 5e-324, 1.7976931348623157e308,
            -0.0, 123456.789e-30, float("nan"), float("inf"),
            float("-inf"), None]
    rows = [(i, v) for i, v in enumerate(vals)]
    out = local_relation(
        spark, rows, "i int, v double").orderBy("i").collect()
    for (_, want), got in zip(rows, out):
        if want is None:
            assert got.v is None
        elif math.isnan(want):
            assert math.isnan(got.v)
        else:
            assert struct.pack("d", got.v) == struct.pack("d", want)


def test_roundtrip_float32_array(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vec = rng.standard_normal(64).astype(np.float32)
    rows = [(1, [float(x) for x in vec]), (2, None),
            (3, [1.0, None, -2.5])]
    out = {r.i: r.v for r in local_relation(
        spark, rows, "i int, v array<float>").collect()}
    assert np.array_equal(np.asarray(out[1], dtype=np.float32), vec)
    assert out[2] is None
    assert out[3] == [1.0, None, -2.5]


def test_roundtrip_strings_and_ints(spark):
    rows = [
        (1, "plain"),
        (2, "it's \"quoted\" \\ back\\slash"),
        (3, "unié中文 \U0001f600"),
        (4, "tab\tnewline\n"),
        (5, None),
        (-(1 << 62), "big negative key"),
    ]
    got = {r.k: r.s for r in local_relation(
        spark, rows, "k bigint, s string").collect()}
    for k, s in rows:
        assert got[k] == s


def test_empty_rows_keeps_schema(spark):
    df = local_relation(spark, [], "a int, v array<float>")
    assert df.count() == 0
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int", "array<float>"]


def test_plan_is_local_relation_zero_job_collect(spark):
    rows = [(i, float(i) / 7.0) for i in range(100)]
    df = local_relation(spark, rows, "i int, v double")
    # true LocalRelation: the optimized plan is a single LocalRelation
    # node (no RDD scan), so collect() runs zero Spark jobs
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    before = _jobs(spark)
    assert len(df.collect()) == 100
    assert _jobs(spark) == before


def test_roundtrip_date_timestamp_decimal_struct(spark):
    ts = datetime.datetime(2024, 3, 1, 10, 30, 0, 123456)
    rows = [
        (1, datetime.date(1900, 1, 1), ts, ts, decimal.Decimal("-12.345"),
         (7, ts, "x")),
        (2, datetime.date(2262, 4, 11), datetime.datetime(1969, 12, 31, 23,
                                                          59, 59, 999999),
         datetime.datetime(1970, 1, 1), decimal.Decimal("99999.999"),
         None),
        (3, None, None, None, None, (None, None, None)),
    ]
    ddl = ("i int, d date, t timestamp, n timestamp_ntz, m decimal(8,3), "
           "s struct<a:int,b:timestamp,c:string>")
    df = local_relation(spark, rows, ddl)
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    got = sorted(tuple(r) for r in df.collect())
    assert got == [tuple(r) for r in rows]
    assert got == sorted(
        tuple(r) for r in spark.createDataFrame(rows, ddl).collect())


def test_schema_with_non_nullable_struct_fields(spark):
    from pyspark.sql import functions as F

    # a schema taken from a plan: F.struct of non-null columns, one of
    # them an array of non-null elements
    base = spark.range(3).select(
        F.col("id").alias("k"),
        F.struct(F.col("id").alias("x"), F.lit("q").alias("y"),
                 F.array(F.col("id")).alias("a")).alias("p"))
    assert not base.schema["p"].dataType["x"].nullable
    rows = [tuple(r) for r in base.collect()]
    df = local_relation(spark, rows, base.schema)
    assert sorted(tuple(r) for r in df.collect()) == rows
    assert [f.name for f in df.schema["p"].dataType.fields] == ["x", "y", "a"]


_TZ_SCRIPT = """
import datetime
from pyspark.sql import SparkSession
from duckdb_spatial_spark.sources.tables import local_relation

spark = (SparkSession.builder.master("local[1]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
ts = datetime.datetime(2024, 7, 1, 10, 30)
df = local_relation(spark, [(ts, (1, ts))],
                    "t timestamp, s struct<i:int,t:timestamp>")
r = df.collect()[0]
print("GOT", r.t.isoformat(), r.s.t.isoformat())
spark.stop()
"""


def test_timestamp_local_zone_roundtrip_subprocess():
    # collect() hands back naive datetimes in the PROCESS's zone, whatever
    # the session zone; put straight into a UTC Arrow array they would
    # come back shifted by the zone's offset (10:30 -> 03:30 here)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TZ="America/Los_Angeles",
               PYTHONPATH=repo + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run([sys.executable, "-c", _TZ_SCRIPT], cwd=repo,
                         env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = [ln for ln in out.stdout.splitlines() if ln.startswith("GOT ")]
    assert got == ["GOT 2024-07-01T10:30:00 2024-07-01T10:30:00"], out.stdout


def test_roundtrip_binary(spark):
    rows = [(1, b"\x01\x00\xff'\\"), (2, bytearray(b"wkb")), (3, b""),
            (4, None)]
    df = local_relation(spark, rows, "i int, b binary")
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    got = {r.i: r.b for r in df.collect()}
    assert got == {1: bytearray(b"\x01\x00\xff'\\"), 2: bytearray(b"wkb"),
                   3: bytearray(b""), 4: None}


def test_column_names_with_backticks(spark):
    schema = T.StructType([T.StructField("a`b", T.IntegerType()),
                           T.StructField("c d", T.StringType())])
    for rows in ([(1, "x")], []):
        df = local_relation(spark, rows, schema)
        assert df.columns == ["a`b", "c d"]
        assert [tuple(r) for r in df.collect()] == rows


def test_row_arity_mismatch_raises(spark):
    with pytest.raises(ValueError, match="row 1 has 1 values"):
        local_relation(spark, [(1, 2.0), (3,)], "i int, v double")
    with pytest.raises(ValueError, match="row 0 has 3 values"):
        local_relation(spark, [(1, 2.0, "x")], "i int, v double")


@pytest.mark.parametrize("ddl,bits", [
    ("tinyint", 8), ("smallint", 16), ("int", 32), ("bigint", 64)])
def test_integer_range_checked(spark, ddl, bits):
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    got = sorted(r.v for r in local_relation(
        spark, [(lo,), (hi,)], f"v {ddl}").collect())
    assert got == [lo, hi]
    for bad in (lo - 1, hi + 1):
        with pytest.raises(ValueError, match="out of range"):
            local_relation(spark, [(bad,)], f"v {ddl}")


def test_5000_rows_stay_local_relation_zero_jobs(spark):
    rows = [(i, float(i) / 3.0, f"s{i}", bytes([i % 256]) * 8)
            for i in range(5000)]
    df = local_relation(spark, rows, "i int, v double, s string, b binary")
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    before = _jobs(spark)
    got = df.collect()
    assert _jobs(spark) == before
    assert sorted((r.i, r.v, r.s, bytes(r.b)) for r in got) == rows


def test_arrow_table_taken_as_is(spark):
    """A pyarrow.Table is renamed and cast to the schema column by column
    (int32 data into a long field here), with no per-value conversion,
    and still plans as a LocalRelation."""
    import pyarrow as pa

    t = pa.table({"a": pa.array([3, 1, 2], pa.int32()),
                  "b": ["x", None, "z"]})
    df = local_relation(spark, t, "k long, s string")
    assert df.schema == T.StructType.fromDDL("k long, s string")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lstrip().startswith("LocalRelation"), plan
    j0 = _jobs(spark)
    assert [tuple(r) for r in df.collect()] == [(3, "x"), (1, None),
                                                (2, "z")]
    assert _jobs(spark) == j0
