"""local_relation: inline-VALUES LocalRelation builder.

The contract under test: (1) values round-trip BIT-EXACTLY (floats via
shortest-repr string casts, strings via escaping or unbase64), (2) the
result is a true LocalRelation — collect() and broadcast builds answer
from executeCollect with zero jobs, unlike createDataFrame's
parallelized-RDD scan, (3) malformed rows raise a clear error and inputs
above the row cap fall back to createDataFrame."""

import math

import pytest
from pyspark.sql import types as T

from duckdb_spatial_spark.sources.tables import local_relation


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
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    assert len(df.collect()) == 100
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before


def test_unsupported_type_raises(spark):
    import datetime

    with pytest.raises(TypeError):
        local_relation(spark, [(datetime.date(2020, 1, 1),)], T.StructType(
            [T.StructField("d", T.DateType())]))


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


def test_row_cap_falls_back_to_create_dataframe(spark):
    from duckdb_spatial_spark.sources import tables

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    cap = tables._INLINE_MAX_ROWS
    rows = [(i, float(i) / 3.0) for i in range(cap + 1)]
    inline = local_relation(spark, rows[:cap], "i int, v double")
    assert "LocalRelation" in plan(inline)
    big = local_relation(spark, rows, "i int, v double")
    assert "LocalRelation" not in plan(big)
    assert sorted(tuple(r) for r in big.collect()) == rows
