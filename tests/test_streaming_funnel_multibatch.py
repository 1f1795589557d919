"""Multi-batch, out-of-order drive of streaming_funnel: events land one
FILE per micro-batch (maxFilesPerTrigger=1) in an adversarial order —
later steps first, then earlier step-1 events that re-open eligibility,
then fills — so the state-eviction path runs inside the real operator
across real micro-batch boundaries, and the final per-user depth must
still equal the batch funnel over everything.
"""
from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_spatial_spark.operators.temporal import funnel
from duckdb_spatial_spark.streaming import drain, streaming_funnel

STEPS = ["view", "click", "purchase"]


def _drive(spark, tmp_path, batches, schema):
    src = str(tmp_path / "ev")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema) \
            .withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.mode("append").parquet(src)
    cast = spark.read.parquet(src)
    stream = (spark.readStream.schema(cast.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    fun = streaming_funnel(stream, STEPS, watermark="10 seconds")
    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    got = {r["user_id"]: r["depth"] for r in
           drain(fun, "update").withColumn("rn", F.row_number().over(w))
           .filter("rn = 1").collect()}
    batch = {r["user_id"]: r["steps_completed"]
             for r in funnel(cast, STEPS).collect()}
    return got, batch


def test_streaming_funnel_out_of_order_batches(spark, tmp_path):
    # every late arrival stays INSIDE the 10 s allowed lateness (the
    # watermark after each batch is max-seen-ts − 10 s); beyond-lateness
    # drops are the operator's documented streaming semantics and are
    # exercised by test_streaming_funnel_drops_beyond_lateness below
    schema = "event_id long, user_id long, event_type string, ts string"
    # batch 1: the LATE steps arrive first; batch 2 back-fills the
    # earlier view that re-opens eligibility for user 1
    b1 = [(0, 1, "purchase", "2024-01-01 00:00:15"),
          (1, 1, "click", "2024-01-01 00:00:12"),
          (2, 2, "click", "2024-01-01 00:00:14")]
    b2 = [(3, 1, "view", "2024-01-01 00:00:10"),
          (4, 2, "view", "2024-01-01 00:00:13")]
    b3 = [(5, 2, "error", "2024-01-01 00:00:16"),
          (6, 3, "view", "2024-01-01 00:00:06")]
    got, batch = _drive(spark, tmp_path, [b1, b2, b3], schema)
    assert got == {1: 3, 2: 2, 3: 1}
    for u, d in batch.items():
        assert got[u] == d, u


def test_streaming_funnel_drops_beyond_lateness(spark, tmp_path):
    # an event older than the watermark at its arrival is DROPPED (the
    # operator enforces this itself — Spark only auto-drops late rows
    # for aggregations): user 1's back-filled view at t=1 arrives when
    # the watermark is 30−10=20 s, so the stream's depth stays 0 even
    # though the batch funnel over all rows would say 3
    schema = "event_id long, user_id long, event_type string, ts string"
    b1 = [(0, 1, "click", "2024-01-01 00:00:25"),
          (1, 1, "purchase", "2024-01-01 00:00:30")]
    b2 = [(2, 1, "view", "2024-01-01 00:00:01")]
    got, _ = _drive(spark, tmp_path, [b1, b2], schema)
    assert got == {1: 0}


def test_streaming_funnel_random_multibatch_equals_batch(spark, tmp_path):
    rng = random.Random(4242)
    schema = "event_id long, user_id long, event_type string, ts string"
    eid = 0
    batches = []
    for k in range(4):
        # batch k draws from [k*15, k*15+14]: any out-of-order arrival
        # stays within the 10 s allowed lateness (wm after batch k is
        # at most k*15+14−10 < (k+1)*15), so nothing is dropped and
        # stream == batch must hold exactly
        rows = []
        for _ in range(rng.randint(1, 10)):
            u = rng.randint(1, 5)
            t = k * 15 + rng.randint(0, 14)
            ty = rng.choice(STEPS + ["noise"])
            rows.append((eid, u, ty, f"2024-01-01 00:00:{t:02d}"))
            eid += 1
        batches.append(rows)
    got, batch = _drive(spark, tmp_path, batches, schema)
    for u, d in batch.items():
        assert got[u] == d, (u, got, batch)
    # users with no step-1 event never appear in the batch funnel; their
    # stream rows must report depth 0
    for u, d in got.items():
        if u not in batch:
            assert d == 0, (u, got)
