"""Round-8 operators: MMR re-rank, session funnel composition,
streaming funnel (batch parity), char entropy."""
import math

import pytest
from pyspark.sql import functions as F


def test_mmr_rerank_prefers_diversity(spark):
    from duckdb_spatial_spark.operators.rank import mmr_rerank

    # docs 1/2 nearly identical and equally relevant, doc 3 equally
    # relevant but pointing the other way off-axis, doc 4 less relevant
    # and orthogonal-ish: MMR at λ=0.5 must pick 1 (tie → smallest id),
    # then 3 (diverse), then 4 — never the near-duplicate 2.
    rows = [
        (1, [0.9, 0.43, 0.0, 0.0]),
        (2, [0.9, 0.42, 0.1, 0.0]),
        (3, [0.9, -0.43, 0.0, 0.0]),
        (4, [0.5, 0.0, 0.0, 0.86]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_rerank(df, [1.0, 0.0, 0.0, 0.0], k=3, pool=4, lam=0.5)
    picked = [i for _, i, _, _ in out]
    assert picked == [1, 3, 4]
    # greedy scores are rounded and descend within the constraint set
    assert all(isinstance(r, float) for _, _, r, _ in out)


def test_mmr_matches_sql_twin(spark):
    import duckdb

    from duckdb_spatial_spark.operators.rank import mmr_rerank, mmr_sql

    import numpy as np
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(1, 41)]
    q = [float(x) for x in rng.randn(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = mmr_rerank(df, q, k=6, pool=16, lam=0.7)

    con = duckdb.connect()
    con.execute("CREATE TABLE emb (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO emb VALUES (?, ?)", rows)
    con.execute("CREATE TABLE qt (embedding DOUBLE[])")
    con.execute("INSERT INTO qt VALUES (?)", [q])
    sql = mmr_sql("emb", "embedding", "vec_id", "qt", "1=1",
                  k=6, pool=16, lam=0.7)
    want = con.execute(sql).fetchall()
    assert [(rk, i, rel, mmr) for rk, i, rel, mmr in want] == got


def test_streaming_funnel_equals_batch(spark, tmp_path):
    from duckdb_spatial_spark.operators.temporal import funnel
    from duckdb_spatial_spark.streaming import drain, streaming_funnel

    rows = []
    eid = 0
    # user 1: full funnel; user 2: view,click only; user 3: purchase
    # before view (depth 1); user 4: no view at all (depth 0)
    seq = {1: ["view", "click", "purchase"],
           2: ["view", "click", "error"],
           3: ["purchase", "view", "signup"],
           4: ["click", "purchase", "error"]}
    for u, evs in seq.items():
        for j, t in enumerate(evs):
            rows.append((eid, u, t, f"2024-01-0{j + 1} 00:00:0{u}"))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, "
                                     "event_type string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    fun = streaming_funnel(stream, ["view", "click", "purchase"])
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    got = {r["user_id"]: r["depth"] for r in
           drain(fun, "update").withColumn("rn", F.row_number().over(w))
           .filter("rn = 1").collect()}
    batch = {r["user_id"]: r["steps_completed"] for r in
             funnel(df, ["view", "click", "purchase"]).collect()}
    for u in seq:
        assert got[u] == batch.get(u, 0), u


def test_char_entropy_known_values(spark):
    import duckdb

    from duckdb_spatial_spark.operators.textops import (char_entropy_per_doc,
                                                        char_entropy_sql)

    rows = [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, ""), (5, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["entropy"]
           for r in char_entropy_per_doc(df).collect()}
    assert got[1] == 0.0
    assert abs(got[2] - math.log(2)) < 1e-12
    assert abs(got[3] - math.log(4)) < 1e-12
    assert got[4] == 0.0 and got[5] == 0.0

    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = dict(con.execute(
        char_entropy_sql("docs", "doc_id", "text")).fetchall())
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12, k


def test_session_funnel_splits_on_gap(spark):
    from duckdb_spatial_spark.operators.temporal import funnel, sessionize

    # one user, two sessions: first completes view->click, second
    # view->click->purchase; cross-session matching must NOT occur
    rows = [
        (1, 9, "view",     "2024-01-01 00:00:00"),
        (2, 9, "click",    "2024-01-01 00:05:00"),
        # > 30 min gap
        (3, 9, "view",     "2024-01-01 02:00:00"),
        (4, 9, "click",    "2024-01-01 02:10:00"),
        (5, 9, "purchase", "2024-01-01 02:20:00"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, "
                                     "event_type string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .withColumn("t", F.unix_micros("ts"))
    sess = sessionize(df, ["user_id"], "t", gap_us=30 * 60 * 1_000_000,
                      order_cols=["event_id"])
    keyed = sess.select(
        (F.col("user_id") * 1000 + F.col("session_id")).alias("sk"),
        "event_type", "ts")
    out = {r["sk"]: r["steps_completed"] for r in
           funnel(keyed, ["view", "click", "purchase"],
                  user_col="sk").collect()}
    assert out == {9000: 2, 9001: 3}


def test_streaming_funnel_random_parity(spark, tmp_path):
    """Property-style parity: random event soup (types, shuffled order,
    duplicate timestamps) — streaming depth per user must equal the
    batch funnel exactly."""
    import random

    from duckdb_spatial_spark.operators.temporal import funnel
    from duckdb_spatial_spark.streaming import drain, streaming_funnel

    rng = random.Random(42)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = []
    eid = 0
    for u in range(1, 30):
        for _ in range(rng.randint(1, 12)):
            t = rng.randint(0, 5_000)
            h, m, sec = t // 3600, (t // 60) % 60, t % 60
            rows.append((eid, u, rng.choice(types),
                         f"2024-01-01 {h:02d}:{m:02d}:{sec:02d}"))
            eid += 1
    from pyspark.sql import functions as F
    df = spark.createDataFrame(rows, "event_id long, user_id long, "
                                     "event_type string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "ev2")
    df.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    fun = streaming_funnel(stream, ["view", "click", "purchase"])
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    got = {r["user_id"]: r["depth"] for r in
           drain(fun, "update").withColumn("rn", F.row_number().over(w))
           .filter("rn = 1").collect()}
    batch = {r["user_id"]: r["steps_completed"] for r in
             funnel(df, ["view", "click", "purchase"]).collect()}
    for u in range(1, 30):
        assert got.get(u, 0) == batch.get(u, 0), u


def test_char_entropy_bounds(spark):
    """0 <= H <= ln(|alphabet|) on arbitrary strings."""
    import math

    from duckdb_spatial_spark.operators.textops import char_entropy_per_doc

    rows = [(i, s) for i, s in enumerate(
        ["hello world", "aAbB  cC", "....", "a" * 50 + "b",
         "the quick brown fox", "x y z w v u t s r q"])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for r in char_entropy_per_doc(df).collect():
        text = rows[r["doc_id"]][1]
        k = len(set(text))
        assert -1e-12 <= r["entropy"] <= math.log(max(k, 1)) + 1e-12


def test_mmr_pool_and_k_bounds(spark):
    """k > pool and pool > corpus degrade gracefully (no crash, no
    duplicates, ranks contiguous)."""
    from duckdb_spatial_spark.operators.rank import mmr_rerank

    rows = [(i, [float(i), 1.0, 0.0]) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_rerank(df, [1.0, 0.0, 0.0], k=10, pool=50, lam=0.6)
    ids = [i for _, i, _, _ in out]
    assert sorted(ids) == [1, 2, 3, 4, 5]
    assert [r for r, _, _, _ in out] == [1, 2, 3, 4, 5]
