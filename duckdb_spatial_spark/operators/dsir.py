"""DSIR-style data selection via importance resampling.

Public method (Xie et al., "Data Selection for Language Models via
Importance Resampling", NeurIPS 2023): represent every document as a bag
of hashed n-grams, fit two bucket-count models — p̂ on a *target* corpus
(the domain you want more of) and q̂ on the *raw* corpus — and score each
raw document by its importance log-weight

    log w(d) = Σ_b  n_{d,b} · ( ln p̂_b − ln q̂_b )

with add-α smoothing  p̂_b = (cnt_p,b + α) / (tot_p + α·B).  Selection is
either deterministic top-k by log-weight or Gumbel top-k (which IS
sampling-without-replacement ∝ w^{1/T}) with a portable seeded uniform,
so both paths replay exactly in ANSI SQL for the oracle gate.

Scale shape (100-TB posture):
  * ONE explode of the projected word array per corpus pass (unigrams and
    bigrams come out of the same array — no second text scan);
  * the (doc, bucket) counts shuffle is partial-aggregated (map-side
    combine collapses repeated grams before the exchange);
  * both models are ≤ ``buckets`` rows (default 4096) → broadcast back;
    no wide join ever carries text;
  * the final per-doc reduction shuffles ids + longs only;
  * everything is whole-stage codegen — no Python anywhere.

Bucket hash: the first 4 hex digits of md5(gram) decoded with
ascii-arithmetic (no engine-specific hex→int builtin), mod ``buckets`` —
bit-identical in Spark and DuckDB, same trick as the simhash oracle.

Reference analog: the reference engine has no data-selection tier; this
module belongs to the LLM-training-data completion tier alongside
operators/pipeline.py (C4/gopher) and operators/rank.py (BM25).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.generate import _uniform01_portable, portable_uniform_sql
from ..sources.tables import local_relation
from .pipeline import normalized_words

__all__ = [
    "hashed_bucket",
    "doc_bucket_counts",
    "dsir_log_weights",
    "dsir_sample",
    "bucket_sql",
    "gram_rows_sql",
    "dsir_logw_sql",
    "dsir_sample_sql",
]


# --------------------------------------------------------------------------
# portable bucket hash
# --------------------------------------------------------------------------

def hashed_bucket(gram: Column, buckets: int) -> Column:
    """Bucket index in [0, buckets) from the first 4 hex digits of
    md5(gram) — decoded via ascii arithmetic so the identical expression
    exists in ANSI SQL (no conv/strtol dependency)."""
    if not 1 <= buckets <= 65536:
        raise ValueError("buckets must be in [1, 65536] (4 hex digits)")
    # conv(hex, 16, 10) decodes the same first-4-hex-digit value the SQL
    # twin decodes with ascii arithmetic — identical buckets, one builtin
    # instead of four substring/ascii/CASE chains (measured 1.6 → 1.2 s
    # on the sf0.1 gram pass; DuckDB keeps the ascii form, its CSE
    # already makes that free).
    v = F.conv(F.substring(F.md5(gram), 1, 4), 16, 10).cast("int")
    return (v % F.lit(buckets)).cast("int")


def bucket_sql(gram_expr: str, buckets: int) -> str:
    """DuckDB mirror of :func:`hashed_bucket`.

    ``gram_expr`` should be a cheap reference (alias md5 upstream is NOT
    needed — DuckDB CSE handles the repeated md5), but callers usually
    pass a column name from an unnested CTE.
    """
    h = f"md5({gram_expr})"

    def digit(i: int) -> str:
        a = f"ascii(substring({h}, {i}, 1))"
        return f"({a} - CASE WHEN {a} >= 97 THEN 87 ELSE 48 END)"

    v = f"({digit(1)} * 4096 + {digit(2)} * 256 + {digit(3)} * 16 + {digit(4)})"
    return f"(({v}) % {buckets})"


# --------------------------------------------------------------------------
# hashed-gram bag per document
# --------------------------------------------------------------------------

def _bigrams_zip(w: Column, n: Column) -> Column:
    """Bigram array via ``zip_with`` of the word array against itself
    shifted by one — same "a b" grams as the index-``transform`` form but
    ~1.7× faster (zip_with's element walk beats per-index ``slice`` calls;
    higher-order lambdas run interpreted, so fewer ops per element is the
    lever — trap 11)."""
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(w, 1, n - 1),
            F.slice(w, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _gram_rows(df: DataFrame, keep_cols: list, text_col: str,
               bigrams: bool) -> DataFrame:
    """One row per (kept cols…, gram): unigrams plus (optionally) bigrams
    of the normalized word array. The array is PROJECTED first (bound
    column) so the bigram walk stays linear — see
    pipeline.ngrams_of_words' scale note."""
    w = df.select(*keep_cols, normalized_words(F.col(text_col)).alias("_w"))
    keep = [c for c in w.columns if c != "_w"]
    w = w.select(*keep, "_w", F.size(F.col("_w")).alias("_n"))
    grams = F.col("_w")
    if bigrams:
        grams = F.concat(grams, _bigrams_zip(F.col("_w"), F.col("_n")))
    return (
        w.select(*keep, F.explode(grams).alias("gram"))
        .filter(F.col("gram") != "")
    )


def doc_bucket_counts(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", buckets: int = 4096,
                      bigrams: bool = True) -> DataFrame:
    """(id, bucket, cnt): hashed-gram counts per document. One explode +
    one partial-aggregated shuffle on (id, bucket)."""
    g = _gram_rows(df, [F.col(id_col)], text_col, bigrams)
    return (
        g.select(F.col(id_col), hashed_bucket(F.col("gram"), buckets).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# --------------------------------------------------------------------------
# importance log-weights
# --------------------------------------------------------------------------

def dsir_log_weights(raw_df: DataFrame, target_df: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     buckets: int = 4096, alpha: float = 1.0,
                     bigrams: bool = True, persist: bool = True) -> DataFrame:
    """(id, n_grams, logw) for every raw document.

    Plan shape: the raw corpus is exploded ONCE into ``doc_b`` (locally
    checkpointed unless ``persist=False`` — ints only, ~2% of corpus
    bytes; the checkpoint blocks are GC-reclaimed with the result). Both
    bucket models are ≤ ``buckets`` rows, so they are COLLECTED and
    re-shipped as one broadcast LocalRelation — without this, Catalyst
    replays the whole explode lineage once per model/total subtree
    (measured: 4 scan+explode lineages, 5.0 s → 1 pass per corpus at
    sf0.1). The driver never holds more than 2·buckets rows; the λ
    arithmetic stays inside Spark expressions on exact integer counts so
    the SQL twin replays it bit-for-bit.

    Round-9 note: the q106-style one-job fusion (both models in-plan via
    union-tagged window totals + shuffle_hash model join) was built and
    measured SLOWER (2.5 s vs 2.1 s at sf0.1) — AQE's runtime exchange
    reuse only dedupes the (id, bucket) exchange, while the model-side
    window/pivot adds two more stage barriers to the critical path; the
    two-job collect shape keeps the bounded model off the hot path.

    Documented FLOOR (bench profile: AQE off, 8 shuffle partitions,
    local[32], sf0.1): raw gram explode+count alone = 0.55 s warm,
    (id,bucket) aggregate = +0.3 s, target model = 0.25 s, score job =
    ~0.5 s → ~1.4-1.6 s total, vs DuckDB replaying the WHOLE query in
    0.50 s. A sub-2× ratio would require the full pipeline under 1.0 s
    — below the cost of the single mandatory explode pass plus any one
    exchange; the gap is Spark's per-row overhead on ~2.9 M gram rows,
    not topology (two jobs is the collect-model minimum; every
    alternative shape measured slower — see above and PLANS.md round 9).
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (log of the smoothed counts)")
    doc_b = doc_bucket_counts(raw_df, id_col, text_col, buckets, bigrams)
    if persist:
        # localCheckpoint, NOT persist: Dataset caches live in the
        # CacheManager until an explicit unpersist (which a lazily-
        # returned result can't schedule); checkpoint RDD blocks are
        # GC-reclaimed by the ContextCleaner once out of scope.
        # NON-eager: the model collect below is the first job through
        # this lineage and fills the checkpoint as it runs — eager=True
        # paid a whole extra job barrier just to materialize first.
        doc_b = doc_b.localCheckpoint(eager=False)

    # BOTH bounded models ride ONE collect (side-tagged union): two
    # separate collects paid two job barriers + two plan analyses for
    # <= 2*buckets rows of model state
    q_agg = doc_b.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("c")).select(
        F.lit(0).alias("side"), "bucket", "c")
    p_agg = (
        _gram_rows(target_df, [], text_col, bigrams)
        .select(hashed_bucket(F.col("gram"), buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(F.lit(1).alias("side"), "bucket", "c")
    )
    both = q_agg.unionByName(p_agg).collect()
    q_rows = [r for r in both if r["side"] == 0]
    p_cnt = {r["bucket"]: r["c"] for r in both if r["side"] == 1}
    tot_p = sum(p_cnt.values())
    tot_q = sum(r["c"] for r in q_rows)
    # every doc bucket exists in q by construction, so the model join is
    # inner and total; buckets only in the target contribute nothing to
    # any doc's sum and are dropped (matches the SQL twin's LEFT JOIN p)
    spark = raw_df.sparkSession
    model = local_relation(
        spark,
        [(r["bucket"], p_cnt.get(r["bucket"], 0), r["c"]) for r in q_rows],
        "bucket int, cnt_p long, cnt_q long")

    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * buckets)
    per_bucket = F.col("cnt") * (
        F.log(F.col("cnt_p") + a) - F.log(F.col("cnt_q") + a)
    )
    # The normalizer is subtracted AFTER the sum (not folded per-row) so
    # the floating arithmetic matches the SQL twin term-for-term.
    norm = F.log(F.lit(tot_p) + ab) - F.log(F.lit(tot_q) + ab)
    # broadcast the bounded model: a LocalRelation broadcasts with no job,
    # while the join-side alternative re-exchanges the FULL (id, bucket)
    # frame by bucket
    return (
        doc_b.join(F.broadcast(model), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(per_bucket).alias("_s"),
        )
        .select(
            id_col,
            "n_grams",
            (F.col("_s") - F.col("n_grams") * norm).alias("logw"),
        )
    )


def dsir_sample(raw_df: DataFrame, target_df: DataFrame, k: int,
                id_col: str = "doc_id", text_col: str = "text",
                buckets: int = 4096, alpha: float = 1.0,
                bigrams: bool = True, temperature: float = 1.0,
                gumbel_seed: int | None = None) -> DataFrame:
    """Select ``k`` raw documents by DSIR importance.

    ``gumbel_seed=None`` → deterministic top-k by logw (ties on id).
    With a seed, the key is logw/T + Gumbel(portable uniform of the id) —
    Gumbel top-k is exactly sampling-without-replacement with probability
    ∝ w^{1/T}, and the portable uniform makes the draw replayable in SQL.
    Returns (id, n_grams, logw, key) ordered by the selection key.
    """
    lw = dsir_log_weights(raw_df, target_df, id_col, text_col, buckets,
                          alpha, bigrams)
    if gumbel_seed is None:
        key = F.col("logw")
    else:
        # the portable uniform needs an integral id: a failed cast would
        # silently NULL the key (selection degrades to smallest-id) while
        # the SQL twin errors — reject early instead
        id_type = raw_df.schema[id_col].dataType.typeName()
        if id_type not in ("byte", "short", "integer", "long"):
            raise ValueError(
                f"gumbel_seed requires an integral {id_col!r} "
                f"(got {id_type}); pass a numeric surrogate id")
        u = _uniform01_portable(F.col(id_col).cast("long"),
                                1_000_003 * gumbel_seed + 77)
        # clamp away from 0 so ln never sees a non-positive value (Spark
        # ln(0) is NULL while DuckDB gives -inf — keep engines identical)
        ue = u * F.lit(0.999999999) + F.lit(1e-10)
        key = F.col("logw") / F.lit(float(temperature)) - F.log(-F.log(ue))
    out = lw.select(id_col, "n_grams", "logw", key.alias("key"))
    return out.orderBy(F.col("key").desc(), F.col(id_col).asc()).limit(k)


# --------------------------------------------------------------------------
# SQL twins (DuckDB) — built from the same constants/formulas
# --------------------------------------------------------------------------

def gram_rows_sql(table_expr: str, id_select: str, text_col: str,
                  bigrams: bool) -> str:
    """CTE body producing (…id_select…, gram) rows matching
    :func:`_gram_rows`: normalized words, unigrams + bigrams, '' removed."""
    words = (f"string_split(regexp_replace(trim(lower({text_col})), "
             f"'\\s+', ' ', 'g'), ' ')")
    uni = "w"
    if bigrams:
        grams = (f"list_concat({uni}, CASE WHEN len({uni}) >= 2 THEN "
                 f"list_transform(range(1, len({uni})), "
                 f"i -> {uni}[i] || ' ' || {uni}[i+1]) "
                 f"ELSE [] END)")
    else:
        grams = uni
    sel = (id_select + ", ") if id_select else ""
    return (
        f"SELECT {sel}unnest({grams}) AS gram "
        f"FROM (SELECT *, {words} AS w FROM {table_expr})"
    )


def dsir_logw_sql(raw_table: str, target_table: str, id_col: str,
                  text_col: str, buckets: int, alpha: float,
                  bigrams: bool = True) -> str:
    """Full DuckDB replica of :func:`dsir_log_weights` as a WITH…SELECT
    producing (id, n_grams, logw). Shares the bucket hash and smoothing
    constants with the Spark path via this module's helpers."""
    b = bucket_sql("gram", buckets)
    a = repr(float(alpha))
    ab = repr(float(alpha) * buckets)
    raw_grams = gram_rows_sql(raw_table, id_col, text_col, bigrams)
    tgt_grams = gram_rows_sql(target_table, "", text_col, bigrams)
    return f"""
        WITH raw_g AS ({raw_grams}),
        tgt_g AS ({tgt_grams}),
        doc_b AS (
          SELECT {id_col}, {b} AS bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM raw_g WHERE gram <> '' GROUP BY 1, 2
        ),
        p AS (
          SELECT {b} AS bucket, CAST(count(*) AS BIGINT) AS cnt_p
          FROM tgt_g WHERE gram <> '' GROUP BY 1
        ),
        qm AS (SELECT bucket, sum(cnt) AS cnt_q FROM doc_b GROUP BY 1),
        tp AS (SELECT COALESCE(sum(cnt_p), 0) AS tot_p FROM p),
        tq AS (SELECT COALESCE(sum(cnt_q), 0) AS tot_q FROM qm)
        SELECT doc_b.{id_col} AS {id_col},
               CAST(sum(cnt) AS BIGINT) AS n_grams,
               sum(cnt * (ln(COALESCE(cnt_p, 0) + {a}) - ln(cnt_q + {a})))
                 - sum(cnt) * (ln(first(tot_p) + {ab})
                               - ln(first(tot_q) + {ab})) AS logw
        FROM doc_b
        LEFT JOIN p USING (bucket)
        JOIN qm USING (bucket)
        CROSS JOIN tp CROSS JOIN tq
        GROUP BY 1
    """


def dsir_sample_sql(raw_table: str, target_table: str, id_col: str,
                    text_col: str, buckets: int, alpha: float, k: int,
                    temperature: float = 1.0,
                    gumbel_seed: int | None = None,
                    bigrams: bool = True) -> str:
    """DuckDB replica of :func:`dsir_sample` (same key formula)."""
    lw = dsir_logw_sql(raw_table, target_table, id_col, text_col, buckets,
                       alpha, bigrams)
    if gumbel_seed is None:
        key = "logw"
    else:
        u = portable_uniform_sql(f"CAST({id_col} AS BIGINT)",
                                 1_000_003 * gumbel_seed + 77)
        key = (f"(logw / {repr(float(temperature))} "
               f"- ln(-ln({u} * 0.999999999 + 1e-10)))")
    return f"""
        WITH lw AS ({lw})
        SELECT {id_col}, n_grams, logw, {key} AS key
        FROM lw
        ORDER BY key DESC, {id_col} ASC
        LIMIT {k}
    """
