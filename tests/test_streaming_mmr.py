"""Multi-batch drive of streaming_mmr_rerank: vectors land one FILE per
micro-batch in adversarial order (best-relevance candidates LAST, so the
pool state must actually merge and re-rank across batch boundaries), and
the final update per window must equal the batch mmr_rerank over the
window's full data — the associative top-pool merge claim, end to end.
"""
from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_spatial_spark.operators.rank import mmr_greedy, mmr_rerank
from duckdb_spatial_spark.streaming import drain, streaming_mmr_rerank


def _drive(spark, tmp_path, batches, qvec, k, pool):
    schema = "vec_id long, win_id int, embedding array<double>, ts string"
    src = str(tmp_path / "vecs")
    for rows in batches:
        spark.createDataFrame(rows, schema) \
            .withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.mode("append").parquet(src)
    batch_df = spark.read.parquet(src)
    stream = (spark.readStream.schema(batch_df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = streaming_mmr_rerank(stream, qvec, k=k, pool=pool,
                               window="1 hour")
    w = Window.partitionBy("win", "rank").orderBy(F.col("n_seen").desc())
    final = (drain(out, "update")
             .withColumn("rn", F.row_number().over(w)).filter("rn = 1"))
    got = {}
    for r in final.collect():
        got.setdefault(r["win"], []).append(
            (r["rank"], r["id"], r["rel"], r["mmr"]))
    return {w_: sorted(v) for w_, v in got.items()}, batch_df


def test_streaming_mmr_multibatch_equals_batch(spark, tmp_path):
    rng = random.Random(11)
    dim = 6
    qvec = [1.0, 0.5, 0.0, -0.5, 0.25, 0.75]

    def vec():
        return [round(rng.uniform(-1, 1), 3) for _ in range(dim)]

    # two 1-hour windows; candidates CLOSEST to the query arrive in the
    # LAST batch (qvec-aligned vectors scaled positive), so the pool
    # must displace earlier entries to match the batch answer
    ts = {0: "2024-01-01 05:00:07", 1: "2024-01-01 06:00:07"}
    rows = []
    for i in range(60):
        rows.append((i, i % 2, vec(), ts[i % 2]))
    for i in range(60, 72):  # strong candidates, last batch
        s = 0.5 + rng.random()
        rows.append((i, i % 2, [x * s for x in qvec], ts[i % 2]))
    batches = [rows[:25], rows[25:45], rows[45:60], rows[60:]]

    k, pool = 5, 12
    got, batch_df = _drive(spark, tmp_path, batches, qvec, k, pool)
    assert set(got) == {1704085200, 1704088800}
    for win_id, win_start in ((0, 1704085200), (1, 1704088800)):
        want = mmr_rerank(
            batch_df.filter(F.col("win_id") == win_id), qvec,
            id_col="vec_id", vec_col="embedding", k=k, pool=pool)
        assert got[win_start] == sorted(want), win_id


def test_streaming_mmr_null_vectors_never_rank(spark, tmp_path):
    qvec = [1.0, 0.0]
    rows = [(0, 0, [1.0, 0.1], "2024-01-01 05:00:07"),
            (1, 0, None, "2024-01-01 05:00:08"),
            (2, 0, [0.5, 0.5], "2024-01-01 05:00:09")]
    got, _ = _drive(spark, tmp_path, [rows], qvec, 3, 8)
    ids = {i for _, i, _, _ in list(got.values())[0]}
    assert ids == {0, 2}


def test_streaming_mmr_random_streams_equal_batch(spark, tmp_path):
    """Randomized multi-trial drive: random vectors, random batch
    splits, random pool/k — every trial's final per-window selection
    must equal the batch re-ranker exactly."""
    rng = random.Random(31)
    dim = 4
    for trial in range(3):
        qvec = [round(rng.uniform(-1, 1), 3) for _ in range(dim)]
        n = rng.randint(10, 40)
        ts = {0: "2024-01-01 05:00:07", 1: "2024-01-01 06:00:07",
              2: "2024-01-01 07:00:07"}
        rows = [(i, i % 3,
                 [round(rng.uniform(-1, 1), 3) for _ in range(dim)],
                 ts[i % 3]) for i in range(n)]
        rng.shuffle(rows)
        cuts = sorted(rng.sample(range(1, n), min(3, n - 1)))
        batches = [rows[a:b] for a, b in
                   zip([0] + cuts, cuts + [n]) if rows[a:b]]
        k = rng.randint(2, 5)
        pool = rng.randint(k, 12)
        got, batch_df = _drive(spark, tmp_path / f"t{trial}", batches,
                               qvec, k, pool)
        for win_id, win_start in ((0, 1704085200), (1, 1704088800),
                                  (2, 1704092400)):
            want = mmr_rerank(
                batch_df.filter(F.col("win_id") == win_id), qvec,
                id_col="vec_id", vec_col="embedding", k=k, pool=pool)
            if win_start in got or want:
                assert got.get(win_start, []) == sorted(want), (
                    trial, win_id, k, pool)


def test_streaming_mmr_null_ids_never_rank(spark, tmp_path):
    """ADVICE r10: a null id must be filtered at entry (it would reach
    the pandas state update where int(NaN) raises, killing the query)."""
    qvec = [1.0, 0.0]
    rows = [(0, 0, [1.0, 0.1], "2024-01-01 05:00:07"),
            (None, 0, [0.9, 0.0], "2024-01-01 05:00:08"),
            (2, 0, [0.5, 0.5], "2024-01-01 05:00:09")]
    got, _ = _drive(spark, tmp_path, [rows], qvec, 3, 8)
    ids = {i for _, i, _, _ in list(got.values())[0]}
    assert ids == {0, 2}
