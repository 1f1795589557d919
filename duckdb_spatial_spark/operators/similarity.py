"""Similarity search over embedding columns (array<float>).

* ``cosine_similarity`` / ``dot`` / ``l2_norm`` — pure higher-order column
  expressions (JVM-side ``zip_with`` + ``aggregate``; no Python worker).
* ``ann_bruteforce_topk`` — exact top-k: broadcast the (small) query set,
  one pass over the corpus, window top-k. The correctness baseline.
* ``ann_lsh_topk`` — random-hyperplane LSH bucketing: signature from a
  seeded NumPy plane matrix embedded as literals, equi-join on bucket key,
  exact re-rank inside buckets. The 100-TB path (corpus never cross-joined).
* ``embedding_neardup_pairs`` — near-duplicate pairs by cosine ≥ t, LSH-
  bucketed with exact verify; ``exact=True`` does the O(n²) in-bucket-free
  check for oracle-sized data.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import local_relation


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def cosine_similarity(a: Column, b: Column) -> Column:
    # a zero-norm side yields -1.0, matching DuckDB's
    # list_cosine_similarity (the oracle function) exactly — the raw
    # division would THROW under Spark's ANSI mode (DIVIDE_BY_ZERO),
    # found by the round-9 degenerate-data gate
    n = l2_norm(a) * l2_norm(b)
    return F.when(n == 0.0, F.lit(-1.0)).otherwise(dot(a, b) / n)


def ann_bruteforce_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact top-k: corpus × broadcast(queries) → cosine → rank ≤ k.
    One scan of the corpus; queries must be broadcastable."""
    # null vectors never rank (a null cosine is not a similarity) —
    # and DuckDB's list_cosine_similarity ERRORS on them, so excluding
    # them on both sides is the only consistent cross-engine semantic
    j = corpus.filter(F.col(corpus_vec).isNotNull()) \
        .crossJoin(F.broadcast(queries.filter(F.col(query_vec).isNotNull())))
    sim = cosine_similarity(F.col(corpus_vec), F.col(query_vec)).alias("cosine")
    scored = j.select(query_id, corpus_id, sim)
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cosine"), F.asc(corpus_id)  # deterministic tie-break
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_signature(vec: Column, planes: np.ndarray) -> Column:
    """Random-hyperplane sign bits packed into a LONG — pure col-expr
    (planes embedded as array literals; one ``aggregate`` per plane)."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(v)) for v in p])
        s = dot(vec, plane)
        bits.append(F.when(s > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by LSH signature,
    equi-join on bucket, exact cosine re-rank within buckets. Recall < 1.0
    by design; raise n_planes↓/multiprobe for higher recall (round-2)."""
    planes = _hyperplanes(dim, n_planes, seed)
    # null vectors never rank (see ann_bruteforce_topk)
    c = corpus.filter(F.col(corpus_vec).isNotNull()) \
        .withColumn("__bucket", lsh_signature(F.col(corpus_vec), planes))
    q = queries.filter(F.col(query_vec).isNotNull()) \
        .withColumn("__bucket", lsh_signature(F.col(query_vec), planes))
    j = c.join(F.broadcast(q), on="__bucket")
    sim = cosine_similarity(F.col(corpus_vec), F.col(query_vec)).alias("cosine")
    scored = j.select(query_id, corpus_id, sim)
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    exact: bool = False,
    collapse_identical: bool = False,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine ≥ threshold.

    exact=False: LSH-bucketed (bucket equality as the blocking key).
    exact=True: full pair enumeration via self-join (oracle-scale only).
    collapse_identical=True: the duplicate-multiplicity guard — a vector
    ingested m times makes its LSH bucket self-join emit m(m−1)/2
    cosine-1.0 pairs (quadratic in m; blocking can't help, identical
    vectors share every bucket). Bit-identical vectors collapse to their
    min-id representative before the join and return as cosine-1.0 stars
    (cosine of identical vectors is exactly 1 ≥ any threshold), so the
    output stays connectivity-equivalent for dedup clustering at linear
    cost — the embedding analog of ngram_jaccard_join's flag."""
    if collapse_identical:
        fp = df.select(
            F.col(id_col), F.col(vec_col),
            # concat_ws silently DROPS null elements, which would collide
            # [1.0, null, 2.0] with [1.0, 2.0] into one fingerprint and emit
            # a false cosine-1.0 star — coalesce each element to a sentinel
            # no real float formats as, so null-position info survives
            F.md5(F.concat_ws(",", F.transform(
                F.col(vec_col),
                lambda v: F.coalesce(v.cast("string"), F.lit("\x00null")),
            ))).alias("__fp"))
        reps = fp.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
        tagged = fp.join(reps, "__fp")
        stars = tagged.filter(F.col(id_col) != F.col("__rep")).select(
            F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"),
            F.lit(1.0).alias("cosine"))
        rep_pairs = embedding_neardup_pairs(
            tagged.filter(F.col(id_col) == F.col("__rep"))
            .select(id_col, vec_col),
            threshold, id_col, vec_col, n_planes, dim, seed, exact,
            collapse_identical=False)
        return rep_pairs.unionByName(stars)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if exact:
        j = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        planes = _hyperplanes(dim, n_planes, seed)
        a = a.withColumn("__bucket", lsh_signature(F.col("va"), planes))
        b = b.withColumn("__bucket", lsh_signature(F.col("vb"), planes))
        j = a.join(b, on="__bucket").filter(F.col("id_a") < F.col("id_b"))
    sim = cosine_similarity(F.col("va"), F.col("vb"))
    return (
        j.withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ------------------------------------------------------------------- IVF

def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 64,
    sample: int = 20_000,
    iters: int = 12,
    seed: int = 42,
) -> np.ndarray:
    """Coarse quantizer for IVF: Lloyd k-means on a driver-side sample
    (standard IVF recipe — the index TRAIN step is small even when the
    corpus is 100 TB; only ASSIGN is distributed). Returns (n_centroids,
    dim) float64, L2-normalized so nearest-centroid-by-dot ≡ by-cosine.

    ``sample`` is MANDATORY and hard-capped at 1_000_000: the train
    step's contract is a bounded driver-side collect regardless of
    corpus size (at 100 TB an unbounded collect is an OOM, and k-means
    quality saturates far below 1M points for any practical
    n_centroids). ``sample=None``/``0`` raises."""
    _TRAIN_SAMPLE_CAP = 1_000_000
    if not sample or sample < 0:
        raise ValueError(
            "train_ivf_centroids: sample must be a positive row count "
            f"(got {sample!r}); the train step never collects the full "
            "corpus — pass e.g. sample=20_000")
    rows = df.select(vec_col).limit(min(sample, _TRAIN_SAMPLE_CAP)).collect()
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    k = min(n_centroids, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.sum(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


def _assign_cells_udf(centroids: np.ndarray, nprobe: int):
    from pyspark.sql import types as T
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    import pandas as pd

    C = centroids

    def assign(s):
        # one (batch, dim) stack + one matmul against the centroid matrix
        # per Arrow batch — not a per-row python loop
        vals = s.to_numpy(dtype=object)
        # a NULL array element may arrive as None OR a float NaN
        # depending on the Arrow→pandas path — type-check, don't
        # None-check
        mask = np.array([isinstance(v, (list, np.ndarray)) for v in vals])
        if not mask.any():
            return pd.Series([None] * len(vals))
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vals[mask]])
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        np.maximum(norms, 1e-300, out=norms)
        sims = (X / norms) @ C.T  # (n, n_centroids)
        p = min(nprobe, sims.shape[1])
        if p == 1:
            # argmax returns the FIRST maximum — lowest cell id on ties,
            # matching the SQL twin's (sim DESC, cid ASC)
            tops = sims.argmax(axis=1)[:, None]
        else:
            # stable argsort, NOT argpartition: ties at the probe-set
            # boundary (e.g. a zero-norm query, equally similar to every
            # centroid) must resolve to the lowest cell ids — the SQL
            # twin's row_number ORDER BY sim DESC, cid — not to whatever
            # partial order argpartition leaves (found by the round-9
            # degenerate-data gate)
            tops = np.argsort(-sims, axis=1, kind="stable")[:, :p]
        lists = np.empty(len(tops), dtype=object)
        lists[:] = [[int(t) for t in row] for row in tops]
        out = np.empty(len(vals), dtype=object)
        out[~mask] = None
        out[mask] = lists
        return pd.Series(list(out))

    # asNondeterministic (guide §4.4): a join key or inferred filter on
    # the assigned cell otherwise pushes BELOW the projection by
    # substituting the UDF call into the filter, so the whole corpus
    # pays the matmul twice (×4 in cluster_balanced_sample's self-join
    # branches — seen in the round-11 plan census). The UDF is pure;
    # the marker only forbids the optimizer to duplicate/reorder it.
    # Input filters (isNotNull etc.) are applied before the projection
    # in every caller, so no wanted pushdown is lost.
    return pandas_udf(
        assign, T.ArrayType(T.IntegerType()), PandasUDFType.SCALAR
    ).asNondeterministic()


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 64,
    nprobe: int = 8,
    centroids: Optional[np.ndarray] = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVF approximate top-k — the other scale path next to ``ann_lsh_topk``:
    TRAIN a coarse quantizer (driver k-means on a sample), ASSIGN each
    corpus vector to its nearest centroid cell (one distributed pass,
    broadcast centroid matrix), PROBE the ``nprobe`` nearest cells per
    query via an equi-join on cell id, exact cosine re-rank inside the
    probed cells. Corpus is never cross-joined; recall rises with nprobe."""
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, corpus_vec, n_centroids=n_centroids
        )
    c_assign = _assign_cells_udf(centroids, 1)
    q_assign = _assign_cells_udf(centroids, nprobe)
    # null vectors never rank (see ann_bruteforce_topk)
    c = corpus.filter(F.col(corpus_vec).isNotNull()).withColumn(
        "__cell", F.element_at(c_assign(F.col(corpus_vec)), 1)
    )
    q = queries.filter(F.col(query_vec).isNotNull()).withColumn(
        "__cell", F.explode(q_assign(F.col(query_vec)))
    )
    j = c.join(F.broadcast(q), on="__cell")
    sim = cosine_similarity(F.col(corpus_vec), F.col(query_vec)).alias("cosine")
    scored = j.select(query_id, corpus_id, sim)
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


# ------------------------------------------------------- index persistence

def save_ivf_centroids(spark, centroids: np.ndarray, path: str) -> None:
    """Persist a trained coarse quantizer as parquet (cid, centroid) —
    train once on one job, assign/probe from any later job or cluster
    (the IVF index-build/index-use split every production ANN pipeline
    has). Written through Spark so `path` works on any supported
    filesystem."""
    C = np.asarray(centroids, dtype=np.float64)
    local_relation(
        spark, [(i, [float(v) for v in C[i]]) for i in range(len(C))],
        "cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_ivf_centroids(spark, path: str) -> np.ndarray:
    """(n_centroids, dim) float64 back from :func:`save_ivf_centroids`,
    row order restored by cid."""
    from ..sources.tables import read_layout

    # sorted driver-side: an orderBy before this bounded collect plans
    # a global sort whose range-sampling job doubles the probe cost
    rows = read_layout(spark, path).collect()
    rows.sort(key=lambda r: r["cid"])
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def ann_recall(
    df: DataFrame,
    queries_df: DataFrame,
    approx_fn,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Recall@k evaluation harness for the approximate ANN tiers —
    "measure, don't guess": run ``approx_fn(df, queries_df, k)`` (any of
    ann_lsh_topk / ann_ivf_topk / a custom method returning
    (query_id, vec_id, rank ≤ k)) against the brute-force ground truth
    and report per-query overlap. Returns (query_id, n_truth, n_hit,
    recall). Both result sets stay distributed; the comparison is one
    equi-join on (query_id, vec_id)."""
    truth = ann_bruteforce_topk(df, queries_df, k, id_col, vec_col,
                                query_id_col) \
        .select(query_id_col, id_col)
    approx = approx_fn(df, queries_df, k).select(query_id_col, id_col)
    hits = truth.join(approx, [query_id_col, id_col]) \
        .groupBy(query_id_col).agg(F.count("*").alias("n_hit"))
    per_q = truth.groupBy(query_id_col).agg(F.count("*").alias("n_truth"))
    return (
        per_q.join(hits, query_id_col, "left")
        .select(
            query_id_col, "n_truth",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            (F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
             / F.col("n_truth")).alias("recall"),
        )
    )


# ------------------------------------------------------------ semantic dedup

def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_centroids: int = 64,
    centroids: Optional[np.ndarray] = None,
    mode: str = "drop",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with a coarse k-means, then inside each cluster
    drop every vector that has an earlier (smaller-id) cluster-mate with
    cosine similarity >= ``threshold``.

    The drop rule is deliberately NON-iterative (j is dropped when ANY
    earlier i is close, whether or not i itself survives): it is
    order-deterministic, one pass, and exactly replayable as a SQL EXISTS
    over the within-cluster pair set — the same min-representative
    semantics the star-capped LSH tier uses.

    Scale shape: centroid TRAIN is a driver-side sample (standard IVF
    recipe); ASSIGN is one broadcast-matmul Arrow pass; the quadratic
    pairwise step runs only WITHIN a cluster (one applyInPandas group per
    cell — choose ``n_centroids`` ~ n/target_cluster_size so a cluster
    fits an executor, exactly as the paper sizes k). Only ids leave the
    Python stage.

    ``mode='drop'`` → surviving rows of ``df``; ``mode='flag'`` → ``df``
    plus boolean ``semdedup_drop``.
    """
    if mode not in ("drop", "flag"):
        raise ValueError(f"mode must be 'drop' or 'flag', got {mode!r}")
    if not threshold > 0.0:
        raise ValueError("threshold must be > 0 (cosine upper tail)")
    if centroids is None:
        centroids = train_ivf_centroids(df, vec_col, n_centroids=n_centroids)
    from pyspark.sql import types as T

    assign = _assign_cells_udf(np.asarray(centroids, dtype=np.float64), 1)
    with_cell = df.select(
        F.col(id_col), F.col(vec_col),
        F.element_at(assign(F.col(vec_col)), 1).alias("__cell"),
    )
    out_schema = T.StructType([df.schema[id_col]])
    thr = float(threshold)

    def find_drops(pdf):
        pdf = pdf.sort_values(id_col, kind="mergesort")
        valid = pdf[vec_col].map(lambda v: v is not None).to_numpy()
        sub = pdf.loc[valid]
        if len(sub) < 2:
            return pdf.iloc[0:0][[id_col]]
        X = np.stack([np.asarray(v, dtype=np.float64) for v in sub[vec_col]])
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        S = np.triu(X @ X.T, k=1)  # S[i, j] kept only for i < j (id order)
        dropped = (S >= thr).any(axis=0)
        return sub.loc[dropped, [id_col]]

    drops = with_cell.groupBy("__cell").applyInPandas(find_drops, out_schema)
    if mode == "drop":
        return df.join(drops, id_col, "left_anti")
    return df.join(
        drops.withColumn("semdedup_drop", F.lit(True)), id_col, "left"
    ).withColumn("semdedup_drop",
                 F.coalesce(F.col("semdedup_drop"), F.lit(False)))


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    k: int = 100,
    seed: int = 0,
    oversample: float = 4.0,
) -> DataFrame:
    """Topic-balanced subset selection (the DataComp/DFN recipe shape):
    assign every row to its nearest centroid by cosine, then keep a
    DETERMINISTIC ``k`` rows per cluster — equalizing topic mass no
    matter how skewed the corpus is. Output: (id, cluster, rk) with
    rk ∈ [1, k].

    Selection is two deterministic steps, BOTH part of the semantics
    (so an ANSI oracle replays them exactly): rows whose portable-hash
    uniform ``u`` satisfies ``u * cluster_size <= oversample * k`` form
    the candidate pool, then the k smallest (u, id) per cluster are
    kept. With uniform u the pool holds ~oversample*k rows per cluster,
    so the per-cluster sort is O(oversample*k) regardless of cluster
    size — the full-cluster sort a naive row_number-top-k would pay
    never happens. Clusters with fewer than ~k candidates deterministically
    yield fewer rows (raise ``oversample`` if exact-k matters more than
    the sort bound).

    Scale: one Arrow-batched matmul pass for assignment, one bounded
    (n_centroids-row) size aggregate broadcast back, one hash exchange
    of the candidate pool.
    """
    from ..sources.generate import _uniform01_portable

    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    assign = _assign_cells_udf(C, 1)
    u = _uniform01_portable(F.col(id_col).cast("long"),
                            1_000_003 * seed + 71)
    t = df.select(
        F.col(id_col),
        F.element_at(assign(F.col(vec_col)), 1).alias("cluster"),
        u.alias("__u"),
    )
    sizes = t.groupBy("cluster").agg(F.count(F.lit(1)).alias("__n"))
    cand = (
        t.join(F.broadcast(sizes), "cluster")
        .filter(F.col("__u") * F.col("__n")
                <= F.lit(float(oversample * k)))
    )
    w = Window.partitionBy("cluster").orderBy(F.col("__u"), F.col(id_col))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, F.col("cluster").cast("int").alias("cluster"),
                F.col("rk").cast("long").alias("rk"))
    )
