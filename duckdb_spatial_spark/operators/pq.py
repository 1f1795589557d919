"""Product quantization (PQ) for embedding search at 100-TB scale.

Jégou et al. 2011 ("Product quantization for nearest neighbor search"):
split each d-dim vector into ``m`` subvectors, vector-quantize each
subspace against its own ``ks``-entry codebook, and store only the m code
bytes — a 64-dim float32 vector compresses 32× at m=8/ks=256.  Search uses
asymmetric distance computation (ADC): per query, precompute the m×ks
table of exact subspace distances, then every corpus vector's approximate
distance is m table lookups — no float math against the raw corpus at all.

Scale shape here:
* ``train_pq`` — driver-side k-means per subspace on a bounded sample
  (same train/apply split as the IVF coarse quantizer — index TRAIN is
  small even when the corpus is 100 TB).
* ``pq_encode`` — ONE distributed pass; each Arrow batch computes all m
  argmins with one matmul per subspace against the broadcast codebooks.
  The output (id, m small ints) is what you persist: the corpus of codes
  is ~32× smaller than the raw vectors, so the scan that follows reads
  32× fewer bytes.
* ``ann_pq_topk`` — the compressed exhaustive scan: corpus codes explode
  to (id, subspace, code) int triples and meet the per-query lookup
  table (m·ks·n_queries rows, broadcast) on an equi-join; the approximate
  distance is a map-side-combinable SUM.  Whole-stage codegen end to end;
  raw vectors are touched only in the optional exact re-rank of the
  final candidates (``refine`` × k rows per query).
* ``ann_ivfpq_topk`` — the full IVF-PQ composition: coarse cells bound
  the candidate set (reusing the IVF tier), PQ codes score inside the
  probed cells.

Reference parity: the reference's ANN story is its R-tree + exact
distance (duckdb-spatial has no PQ); this module is part of the
beyond-reference training-data mandate, next to ann_lsh/ann_ivf.
"""

from __future__ import annotations

from typing import Iterable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["train_pq", "pq_encode", "pq_codebook_df", "ann_pq_topk",
           "ann_ivfpq_topk", "subvectors_from_rows",
           "train_pca_rotation", "rotate_vectors"]


def train_pca_rotation(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int,
    m: int,
    iters: int = 8,
):
    """OPQ-lite rotation train (the parametric variant of Ge et al.,
    "Optimized Product Quantization", CVPR 2013): PCA-rotate the space,
    then allocate the k rotated dimensions to the ``m`` PQ subspaces
    ROUND-ROBIN by eigenvalue rank — component ranked r (descending λ)
    lands in subspace ``r % m``.  For the descending eigenvalue sequence
    PCA produces, round-robin is the deterministic stand-in for OPQ's
    eigenvalue-product balancing: every subspace receives one component
    from each eigenvalue tier, so subspace variances equalize and no
    single product quantizer starves (the failure mode of naive
    PCA-then-slice, where subspace 0 absorbs all the variance).  Unlike
    full OPQ's per-iteration trained SVD rotation, this train is a pure
    function of the pinned deflated power iteration
    (:func:`~..vectors.pca_power_train`), so the whole computation
    replays exactly in SQL (``pca_power_sql`` + a ``(comp-1) % m``
    bucketing) — the repo's exact-oracle standard is preserved.

    Returns ``(mean[dim], R[k, dim], lams[k])`` with R's rows in
    SUBSPACE-CONTIGUOUS order (subspace j = rows [j·k/m, (j+1)·k/m)),
    ready for :func:`rotate_vectors` + :func:`pq_encode`'s contiguous
    subvector slicing.  Scale shape: ONE distributed Gramian pass; the
    k×iters mat-vecs are dim×dim driver-side (the train/apply split —
    train state is O(dim²) no matter the corpus size)."""
    from .vectors import pca_power_train

    if k % m:
        raise ValueError(f"k={k} not divisible by m={m}")
    mean, comps, lams = pca_power_train(df, vec_col, dim, k, iters)
    perm = [c for j in range(m) for c in range(j, k, m)]
    return mean, comps[perm], [float(lams[c]) for c in perm]


def rotate_vectors(
    df: DataFrame,
    vec_col: str,
    mean: np.ndarray,
    R: np.ndarray,
    out_col: str = "rot",
    round_digits: Optional[int] = 6,
) -> DataFrame:
    """Apply a trained rotation: one Arrow pass of batched
    ``(X - mean) @ Rᵀ`` (reuses :func:`~..vectors.pca_apply`), then
    round each coordinate to ``round_digits`` so downstream encode
    argmins see IDENTICAL doubles on both engines (the 6-dp
    cross-engine discipline; None keeps raw doubles)."""
    from .vectors import pca_apply

    out = pca_apply(df, vec_col, mean, R, out_col=out_col)
    if round_digits is not None:
        out = out.withColumn(
            out_col,
            F.transform(F.col(out_col),
                        lambda x: F.round(x, round_digits)))
    return out


def subvectors_from_rows(rows: Iterable, m: int) -> np.ndarray:
    """(n, d) sample rows → (m, n, d/m) subvector blocks (float64)."""
    X = np.asarray([list(r) for r in rows if r is not None],
                   dtype=np.float64)
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    return X.reshape(n, m, d // m).transpose(1, 0, 2)


def train_pq(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    ks: int = 16,
    sample: int = 20_000,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Per-subspace Lloyd k-means on a driver-side sample.  Returns the
    codebooks as (m, ks, d/m) float64.  ``iters=0`` keeps the pinned
    initial centroids (the first ``ks`` sampled vectors' subvectors) —
    the deterministic mode the SQL oracle replays."""
    rows = [r[0] for r in df.select(vec_col).limit(sample).collect()]
    subs = subvectors_from_rows(rows, m)  # (m, n, dsub)
    n = subs.shape[1]
    k = min(ks, n)
    rng = np.random.RandomState(seed)
    books = []
    for j in range(m):
        X = subs[j]
        C = X[:k].copy() if iters == 0 else X[
            rng.choice(n, size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append(C)
    return np.asarray(books)  # (m, ks, dsub)


def pq_codebook_df(spark, codebooks: np.ndarray) -> DataFrame:
    """Codebooks as a (j, c, centroid) DataFrame — persist with parquet for
    the train-once/encode-anywhere split."""
    m, ks, _ = codebooks.shape
    rows = [
        (j, c, [float(v) for v in codebooks[j, c]])
        for j in range(m) for c in range(ks)
    ]
    from ..sources.tables import local_relation

    return local_relation(spark, rows, "j int, c int, centroid array<double>")


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: np.ndarray,
    out_col: str = "pq_code",
) -> DataFrame:
    """Attach the m-int code array: one Arrow pass, one (batch × ks)
    matmul-free distance argmin per subspace (vectorized numpy)."""
    m, ks, dsub = codebooks.shape
    books = codebooks.astype(np.float64)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _encode(v: pd.Series) -> pd.Series:
        vals = v.to_numpy(dtype=object)
        mask = np.array([isinstance(x, (list, np.ndarray)) for x in vals])
        if not mask.any():
            return pd.Series([None] * len(vals))
        X = np.asarray([np.asarray(x, dtype=np.float64)
                        for x in vals[mask]])
        S = X.reshape(len(X), m, dsub)
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            # FULL ||x-c||² (not the reduced ||c||²-2x·c): the SQL oracle
            # computes the full form, and the two formulas round
            # differently — a near-equidistant pair could argmin to
            # different codes across engines (review finding). batch×ks×
            # dsub temporaries stay small (Arrow batch ≤10k rows).
            diff = S[:, j, :][:, None, :] - books[j][None, :, :]
            codes[:, j] = (diff * diff).sum(axis=2).argmin(axis=1)
        out = np.empty(len(vals), dtype=object)
        out[~mask] = None                      # null vector → null code
        tmp = np.empty(len(codes), dtype=object)
        tmp[:] = [list(map(int, c)) for c in codes]
        out[mask] = tmp
        return pd.Series(list(out))

    # asNondeterministic (guide §4.4): posexplode over the code column
    # makes InferFiltersFromGenerate plant `size(code)>0 AND
    # isnotnull(code)`, and pushing that below the projection
    # substitutes the UDF call into the filter — the corpus then pays
    # the encode (and any CHAINED upstream Arrow pass, e.g. q163's
    # rotation) twice. The UDF is pure; the marker only stops the
    # optimizer duplicating it. No caller filters on columns that would
    # want to push below this projection.
    return df.withColumn(out_col, _encode.asNondeterministic()(F.col(vec_col)))


def _adc_lut(
    queries: DataFrame, query_vec: str, query_id: str, codebooks: np.ndarray
) -> DataFrame:
    """Per-query ADC table: (query row, j, c, d2) — m·ks rows per query,
    built driver-side from the collected queries (queries are the small
    side by construction) and broadcast."""
    m, ks, dsub = codebooks.shape
    qrows = queries.select(query_id, query_vec).collect()
    out = []
    for r in qrows:
        if r[query_vec] is None:
            continue                 # a null query vector has no LUT
        q = np.asarray(r[query_vec], dtype=np.float64).reshape(m, dsub)
        for j in range(m):
            d2 = ((q[j][None, :] - codebooks[j]) ** 2).sum(axis=1)
            for c in range(ks):
                out.append((r[query_id], j, c, float(d2[c])))
    spark = queries.sparkSession
    from pyspark.sql import types as T

    from ..sources.tables import local_relation

    qid_field = queries.schema[query_id]
    schema = T.StructType([
        T.StructField(query_id, qid_field.dataType),
        T.StructField("j", T.IntegerType()),
        T.StructField("c", T.IntegerType()),
        T.StructField("d2", T.DoubleType()),
    ])
    return local_relation(spark, out, schema)


def ann_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    code_col: Optional[str] = None,
    round_digits: Optional[int] = 6,
    refine: Optional[int] = None,
) -> DataFrame:
    """Compressed exhaustive ADC scan: top-k per query by approximate
    squared-L2.  ``code_col`` names a pre-encoded code column (skip the
    encode pass — the production shape, where codes are persisted);
    otherwise the corpus is encoded inline.  ``round_digits`` rounds the
    distance before ranking so the (distance, id) order is reproducible
    across engines/summation orders; None keeps raw doubles.

    ``refine``: the standard IVFPQ+R re-rank — keep ``refine × k`` ADC
    candidates, fetch ONLY those candidates' raw vectors (a semi-join on
    id, not a scan), compute exact squared-L2 against the broadcast
    queries, and re-rank to k.  Output gains an ``exact_d2`` column; the
    ADC compression error disappears from the final ordering at the cost
    of reading refine·k·n_queries raw vectors.

    Plan: explode codes to (id, j, code) ints, equi-join the broadcast
    LUT on (query, j, code)… actually (j, code) with the query id carried
    on the LUT side, then one map-side-combinable sum per (query, id).
    No Python, no raw-vector reads, no cross join."""
    m, ks, _ = codebooks.shape
    if code_col is None:
        corpus = pq_encode(corpus, corpus_vec, codebooks)
        code_col = "pq_code"
    codes = corpus.select(
        F.col(corpus_id),
        F.posexplode(F.col(code_col)).alias("j", "c"),
    )
    lut = _adc_lut(queries, query_vec, query_id, codebooks)
    scored = (
        codes.join(F.broadcast(lut), ["j", "c"])
        .groupBy(query_id, corpus_id)
        .agg(F.sum("d2").alias("adc_d2"))
    )
    dist = (
        F.round(F.col("adc_d2"), round_digits)
        if round_digits is not None else F.col("adc_d2")
    )
    scored = scored.withColumn("adc_d2", dist)
    w = Window.partitionBy(query_id).orderBy(
        F.asc("adc_d2"), F.asc(corpus_id))
    if refine is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "adc_d2", "rank")
        )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(refine) * k)
        .select(query_id, corpus_id, "adc_d2")
    )
    # fetch raw vectors ONLY for the candidate ids (semi-join shape),
    # exact distance via a fold over the zipped arrays — pure col-expr
    qvecs = queries.select(
        F.col(query_id),
        F.col(query_vec).cast("array<double>").alias("__qv"))
    raw = corpus.select(
        F.col(corpus_id),
        F.col(corpus_vec).cast("array<double>").alias("__cv"))
    joined = (
        cand.join(raw, corpus_id)
        .join(F.broadcast(qvecs), query_id)
    )
    exact_d2 = F.aggregate(
        F.zip_with("__qv", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    rer = joined.withColumn("exact_d2", F.round(exact_d2, round_digits)
                            if round_digits is not None else exact_d2)
    w2 = Window.partitionBy(query_id).orderBy(
        F.asc("exact_d2"), F.asc(corpus_id))
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "adc_d2", "exact_d2", "rank")
    )


def ann_ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    coarse_centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    round_digits: Optional[int] = 6,
) -> DataFrame:
    """IVF-PQ: coarse cells bound the candidates (IVF tier), PQ codes
    score them (ADC), exact math never touches the corpus.  One cell
    equi-join + one LUT equi-join + one sum — the standard billion-scale
    ANN index expressed as three shuffles of small-int rows."""
    from .similarity import _assign_cells_udf

    c_assign = _assign_cells_udf(coarse_centroids, 1)
    q_assign = _assign_cells_udf(coarse_centroids, nprobe)
    coded = pq_encode(corpus, corpus_vec, codebooks).select(
        F.col(corpus_id),
        F.element_at(c_assign(F.col(corpus_vec)), 1).alias("__cell"),
        F.posexplode("pq_code").alias("j", "c"),
    )
    qcells = queries.select(
        F.col(query_id), F.explode(q_assign(F.col(query_vec))).alias("__cell")
    )
    lut = _adc_lut(queries, query_vec, query_id, codebooks)
    cand = coded.join(F.broadcast(qcells), "__cell")
    scored = (
        cand.join(F.broadcast(lut), [query_id, "j", "c"])
        .groupBy(query_id, corpus_id)
        .agg(F.sum("d2").alias("adc_d2"))
    )
    dist = (
        F.round(F.col("adc_d2"), round_digits)
        if round_digits is not None else F.col("adc_d2")
    )
    scored = scored.withColumn("adc_d2", dist)
    w = Window.partitionBy(query_id).orderBy(
        F.asc("adc_d2"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "adc_d2", "rank")
    )
