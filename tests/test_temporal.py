"""asof_join / interval_join vs brute-force oracles (and DuckDB ASOF)."""

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.operators.temporal import asof_join, interval_join


def _brute_asof(L, R, keyed, direction="backward", tol=None):
    out = {}
    for (k, t, lid) in L:
        cands = [
            (t2, rid, v)
            for (k2, t2, rid, v) in R
            if (not keyed or k2 == k)
            and (t2 <= t if direction == "backward" else t2 >= t)
        ]
        m = (max(cands) if direction == "backward" else min(cands)) \
            if cands else None
        if m is not None and tol is not None and abs(m[0] - t) > tol:
            m = None
        out[lid] = m
    return out


@pytest.fixture(scope="module")
def data():
    rng = random.Random(7)
    L = [(i % 5, rng.randint(0, 1000), i) for i in range(300)]
    seen, R = set(), []
    for i in range(200):
        k, t = i % 5, rng.randint(0, 1000)
        if (k, t) in seen:
            continue
        seen.add((k, t))
        R.append((k, t, i * 10, float(i)))
    return L, R


def _check(res, exp):
    bad = []
    for row in res:
        got = (
            (row["matched_t"], row["rid"], row["v"])
            if row["matched_t"] is not None else None
        )
        if got != exp[row["lid"]]:
            bad.append((row["lid"], got, exp[row["lid"]]))
    assert not bad, bad[:5]


def test_asof_keyed_backward(spark, data):
    L, R = data
    l = spark.createDataFrame(L, "k int, t long, lid long")
    r = spark.createDataFrame(R, "k int, t long, rid long, v double")
    res = asof_join(l, r, "t", "t", by=["k"], value_cols=["rid", "v"])
    assert res.count() == len(L)
    _check(res.collect(), _brute_asof(L, R, True))


def test_asof_keyed_forward_and_tolerance(spark, data):
    L, R = data
    l = spark.createDataFrame(L, "k int, t long, lid long")
    r = spark.createDataFrame(R, "k int, t long, rid long, v double")
    res = asof_join(l, r, "t", "t", by=["k"], value_cols=["rid", "v"],
                    direction="forward")
    _check(res.collect(), _brute_asof(L, R, True, "forward"))
    res = asof_join(l, r, "t", "t", by=["k"], value_cols=["rid", "v"],
                    tolerance_us=50)
    _check(res.collect(), _brute_asof(L, R, True, tol=50))


def test_asof_keyless_bucketed(spark, data):
    """The scale path for un-keyed asof: quantile buckets + broadcast
    carry-in, exercised with a bucket count small enough that carries
    actually cross buckets."""
    L, R = data
    seen, R3 = set(), []
    for (k, t, rid, v) in R:
        if t in seen:
            continue
        seen.add(t)
        R3.append((t, rid, v))
    l3 = spark.createDataFrame([(t, lid) for (_, t, lid) in L],
                               "t long, lid long")
    r3 = spark.createDataFrame(R3, "t long, rid long, v double")
    res = asof_join(l3, r3, "t", "t", value_cols=["rid", "v"], n_buckets=7)
    exp = _brute_asof(
        [(0, t, lid) for (_, t, lid) in L],
        [(0, t, rid, v) for (t, rid, v) in R3], keyed=False)
    _check(res.collect(), exp)


def test_asof_matches_duckdb_asof_join(spark, data):
    """Cross-engine: same semantics as DuckDB's native ASOF JOIN."""
    L, R = data
    l = spark.createDataFrame(L, "k int, t long, lid long")
    r = spark.createDataFrame(R, "k int, t long, rid long, v double")
    res = {
        row["lid"]: (row["matched_t"], row["rid"])
        for row in asof_join(l, r, "t", "t", by=["k"],
                             value_cols=["rid", "v"]).collect()
    }
    con = duckdb.connect()
    con.execute("create table l(k int, t bigint, lid bigint)")
    con.execute("create table r(k int, t bigint, rid bigint, v double)")
    con.executemany("insert into l values (?,?,?)", L)
    con.executemany("insert into r values (?,?,?,?)", R)
    duck = con.execute(
        "select l.lid, r.t, r.rid from l asof left join r "
        "on l.k = r.k and l.t >= r.t"
    ).fetchall()
    for lid, rt, rid in duck:
        assert res[lid] == (rt, rid), (lid, res[lid], (rt, rid))


def test_asof_timestamp_columns(spark):
    rows_l = [(1, "2024-01-01 00:00:10", 1), (1, "2024-01-01 00:01:00", 2)]
    rows_r = [(1, "2024-01-01 00:00:05", 7.0),
              (1, "2024-01-01 00:00:30", 9.0)]
    l = spark.createDataFrame(rows_l, "k int, ts string, lid int") \
        .withColumn("ts", F.to_timestamp("ts"))
    r = spark.createDataFrame(rows_r, "k int, ts string, v double") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {row["lid"]: row["v"]
           for row in asof_join(l, r, "ts", "ts", by=["k"]).collect()}
    assert got == {1: 7.0, 2: 9.0}
    # tolerance in microseconds: 10 s window drops the 30 s-old match
    got = {row["lid"]: row["v"]
           for row in asof_join(l, r, "ts", "ts", by=["k"],
                                tolerance_us=10_000_000).collect()}
    assert got == {1: 7.0, 2: None}


_GAP_SQL = """SELECT * FROM VALUES
    (1, TIMESTAMP_NTZ'2024-03-10 01:00:00', 'view', 10),
    (1, TIMESTAMP_NTZ'2024-03-10 02:30:00', 'click', 1),
    (1, TIMESTAMP_NTZ'2024-03-10 03:10:00', 'purchase', 20)
    AS t(user_id, ts, event_type, eid)"""


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_asof_ntz_ignores_session_timezone(spark, tz):
    """TIMESTAMP_NTZ keys order by wall time under any session zone. 02:30
    on 2024-03-10 falls in Los Angeles' spring-forward gap: a session-zone
    cast moves it to 03:30, past the 03:10 right row."""
    from duckdb_spatial_spark.runtime import scoped_conf

    with scoped_conf(spark, {"spark.sql.session.timeZone": tz}):
        ev = spark.sql(_GAP_SQL)
        left = ev.filter("event_type = 'click'").select("user_id", "ts")
        right = ev.filter("event_type != 'click'").select(
            "user_id", "ts", "eid")
        got = asof_join(left, right, "ts", "ts", by=["user_id"],
                        value_cols=["eid"]).collect()
    assert [r["eid"] for r in got] == [10]


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_funnel_ntz_ignores_session_timezone(spark, tz):
    """view 01:00 → click 02:30 → purchase 03:10 completes all three steps
    under any session zone (see the asof case above)."""
    from duckdb_spatial_spark.operators.temporal import funnel
    from duckdb_spatial_spark.runtime import scoped_conf

    with scoped_conf(spark, {"spark.sql.session.timeZone": tz}):
        got = funnel(spark.sql(_GAP_SQL),
                     ["view", "click", "purchase"]).collect()
    assert [(r["steps_completed"], r["t_last_us"] - r["t_first_us"])
            for r in got] == [(3, 2 * 3600_000_000 + 10 * 60_000_000)]


def test_interval_join_diversion_guard(spark):
    """A pathological bucket_width that makes every interval 'long' must
    raise (not silently broadcast the whole table)."""
    rows = [(i, float(i * 100), float(i * 100 + 5000)) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, s double, e double")
    with pytest.raises(ValueError, match="diversion|broadcast"):
        interval_join(df, df.withColumnRenamed("id", "id2"),
                      "s", "e", "s", "e",
                      bucket_width=1e-3, max_buckets_per_row=4,
                      max_diverted_rows=10)


def test_asof_null_keys_never_match(spark):
    """DuckDB ASOF semantics: a NULL ordering key on either side never
    produces a match — right NULL-ts rows must not leak their payload to
    early left rows (nulls-first hazard), and left NULL-ts rows must not
    inherit the last payload under forward order (nulls-last hazard)."""
    l = spark.createDataFrame(
        [(1, 5, 1), (1, 100, 2), (1, None, 3)], "k int, t long, lid int")
    r = spark.createDataFrame(
        [(1, None, 666, -1.0), (1, 50, 10, 1.5)],
        "k int, t long, rid long, v double")
    for direction in ("backward", "forward"):
        got = {row["lid"]: (row["matched_t"], row["rid"], row["v"])
               for row in asof_join(l, r, "t", "t", by=["k"],
                                    value_cols=["rid", "v"],
                                    direction=direction).collect()}
        # the NULL-ts right row (rid=666) must never appear
        assert all(g[1] != 666 for g in got.values()), got
        # the NULL-ts left row must have no match
        assert got[3] == (None, None, None), got
        if direction == "backward":
            assert got[1] == (None, None, None) and got[2] == (50, 10, 1.5)
        else:
            assert got[1] == (50, 10, 1.5) and got[2] == (None, None, None)
    # keyless path too
    for direction in ("backward", "forward"):
        got = {row["lid"]: row["rid"]
               for row in asof_join(l.drop("k"), r.drop("k"), "t", "t",
                                    value_cols=["rid", "v"],
                                    direction=direction).collect()}
        assert all(v != 666 for v in got.values()), got
        assert got[3] is None, got


def test_interval_join_exact_and_skew_path(spark):
    rng = random.Random(11)
    LI = [(i % 5, s, s + rng.randint(0, 80), i)
          for i, s in enumerate(rng.randint(0, 2000) for _ in range(250))]
    RI = [(i % 5, s, s + rng.randint(0, 120), i + 1000)
          for i, s in enumerate(rng.randint(0, 2000) for _ in range(250))]
    li = spark.createDataFrame(LI, "k int, s long, e long, lid long")
    ri = spark.createDataFrame(RI, "k int, s long, e long, rid long")
    exp = sorted(
        (a[3], b[3]) for a in LI for b in RI
        if a[0] == b[0] and a[1] <= b[2] and b[1] <= a[2])
    # cap=2 forces most rows down the long-interval broadcast diversion;
    # the result must not change (and must not double-count long×long)
    for cap in (256, 2):
        res = interval_join(li, ri, "s", "e", "s", "e", by=["k"],
                            bucket_width=64.0, max_buckets_per_row=cap)
        got = sorted((r0["lid"], r0["rid"]) for r0 in res.collect())
        assert got == exp, f"cap={cap}"


def test_interval_join_keyless(spark):
    rng = random.Random(3)
    LI = [(s, s + rng.randint(0, 50), i)
          for i, s in enumerate(rng.randint(0, 500) for _ in range(80))]
    RI = [(s, s + rng.randint(0, 50), i + 1000)
          for i, s in enumerate(rng.randint(0, 500) for _ in range(80))]
    li = spark.createDataFrame(LI, "s long, e long, lid long")
    ri = spark.createDataFrame(RI, "s long, e long, rid long")
    exp = sorted((a[2], b[2]) for a in LI for b in RI
                 if a[0] <= b[1] and b[0] <= a[1])
    res = interval_join(li, ri, "s", "e", "s", "e", bucket_width=32.0)
    got = sorted((r0["lid"], r0["rid"]) for r0 in res.collect())
    assert got == exp


def test_resample_ffill(spark):
    from duckdb_spatial_spark.operators.temporal import resample_ffill

    rows = [(1, 100, 10.0), (1, 250, 11.0), (2, 120, 20.0)]
    df = spark.createDataFrame(rows, "k int, t long, v double")
    out = resample_ffill(df, ["k"], "t", ["v"], step_us=50)
    got = {(r["k"], r["tick_us"]): r["v"] for r in out.collect()}
    # global grid 100..250 step 50 for both keys
    assert got == {
        (1, 100): 10.0, (1, 150): 10.0, (1, 200): 10.0, (1, 250): 11.0,
        (2, 100): None, (2, 150): 20.0, (2, 200): 20.0, (2, 250): 20.0,
    }
    # explicit bounds override the global span
    out2 = resample_ffill(df, ["k"], "t", ["v"], step_us=100,
                          start_us=0, end_us=300)
    ticks = sorted(r["tick_us"] for r in out2.filter("k = 1").collect())
    assert ticks == [0, 100, 200, 300]


def test_resample_ffill_empty_input(spark):
    """Review regression: empty input (defaulted bounds) returns empty,
    not a driver TypeError."""
    from duckdb_spatial_spark.operators.temporal import resample_ffill

    df = spark.createDataFrame([], "k int, t long, v double")
    assert resample_ffill(df, ["k"], "t", ["v"], step_us=10).count() == 0


# ---------------------------------------------------------------- funnel


def test_funnel_depths_and_window(spark):
    from datetime import datetime

    from duckdb_spatial_spark.operators.temporal import funnel

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1 completes all three in order
        (1, T(1), "view"), (1, T(2), "click"), (1, T(3), "purchase"),
        # user 2: click BEFORE view -> only depth 1 (view at t=5)
        (2, T(4), "click"), (2, T(5), "view"),
        # user 3: view+click, purchase outside the 10 s window
        (3, T(1), "view"), (3, T(2), "click"), (3, T(30), "purchase"),
        # user 4: never views
        (4, T(1), "click"), (4, T(2), "purchase"),
        # user 5: equal timestamps are NOT strictly after -> depth 1
        (5, T(7), "view"), (5, T(7), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r["user_id"]: r for r in
           funnel(df, ["view", "click", "purchase"],
                  within_us=10_000_000).collect()}
    assert set(got) == {1, 2, 3, 5}
    assert got[1]["steps_completed"] == 3
    assert got[2]["steps_completed"] == 1
    assert got[3]["steps_completed"] == 2
    assert got[5]["steps_completed"] == 1
    # span = last matched step time - first step time
    assert got[1]["t_last_us"] - got[1]["t_first_us"] == 2_000_000
    # unlimited window lets user 3 complete
    got_nl = {r["user_id"]: r["steps_completed"] for r in
              funnel(df, ["view", "click", "purchase"]).collect()}
    assert got_nl[3] == 3
