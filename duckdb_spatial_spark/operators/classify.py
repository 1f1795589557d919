"""Model-based quality classification: multinomial Naive Bayes over
hashed n-gram buckets.

The GPT-3 / LLaMA / CCNet data pipelines filter web text with a linear
classifier trained on "known-good vs raw" examples (fastText supervised
in the published recipes). The count-based analog with the same bag-of-
hashed-ngrams features is multinomial Naive Bayes — it trains in ONE
distributed counting pass (no iterations, no gradients), its decision
function is a per-bucket log-odds dot product, and every step is exact
integer/double arithmetic, so the whole train+score pipeline replays in
ANSI SQL for the oracle gate. (DSIR in operators/dsir.py is the
two-model generative-ratio sibling; NB adds class priors and a labeled
decision boundary.)

    score(d) = ln P(pos)/P(neg)
             + Σ_b n_{d,b} · ( ln p̂_b|pos − ln p̂_b|neg )
    p̂_b|c   = (cnt_{c,b} + α) / (tot_c + α·B)

Scale shape:
  * training: one explode of the labeled corpus → one partial-aggregated
    (label, bucket) shuffle → a model of ≤ 2·buckets rows collected
    driver-side (bounded by buckets, never by data) and re-shipped as a
    broadcast LocalRelation — the same one-pass-per-corpus discipline as
    operators/dsir.py;
  * scoring: one explode of the unlabeled corpus → broadcast model join
    → per-doc sum. Int-only shuffles, whole-stage codegen throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_relation
from .dsir import (_bigrams_zip, _gram_rows, bucket_sql, gram_rows_sql,
                   hashed_bucket)
from .pipeline import normalized_words

__all__ = ["nb_train", "nb_score", "nb_score_sql",
           "nb_train_score", "nb_train_score_split",
           "isotonic_calibrate", "isotonic_sql"]


def nb_train(labeled_df: DataFrame, label_col: str = "label",
             text_col: str = "text", buckets: int = 4096,
             alpha: float = 1.0, bigrams: bool = True):
    """Train on a boolean ``label_col`` (True = quality/positive).

    Returns ``(model_rows, stats)`` where ``model_rows`` is a list of
    (bucket, cnt_pos, cnt_neg) and ``stats`` a dict with n_pos/n_neg doc
    counts and tot_pos/tot_neg gram totals — everything downstream needs,
    bounded at 2·buckets rows of driver memory.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (log of the smoothed counts)")
    g = _gram_rows(labeled_df, [F.col(label_col).alias("_y")], text_col,
                   bigrams)
    # ONE collect for the bucket counts AND the doc-count stats: the doc
    # totals ride along as a sentinel bucket=-1 row (hashed buckets are
    # always >= 0), halving the train-time job barriers.
    both = (
        g.select("_y", hashed_bucket(F.col("gram"), buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum(F.col("_y").cast("long")).alias("cnt_pos"),
            F.sum((~F.col("_y")).cast("long")).alias("cnt_neg"),
        )
        .unionByName(labeled_df.agg(
            F.lit(-1).alias("bucket"),
            F.sum(F.col(label_col).cast("long")).alias("cnt_pos"),
            F.sum((~F.col(label_col)).cast("long")).alias("cnt_neg"),
        ))
    ).collect()
    docs = next(r for r in both if r["bucket"] == -1)
    model_rows = [(r["bucket"], r["cnt_pos"], r["cnt_neg"])
                  for r in both if r["bucket"] >= 0]
    stats = {
        "n_pos": docs["cnt_pos"] or 0,
        "n_neg": docs["cnt_neg"] or 0,
        "tot_pos": sum(r[1] for r in model_rows),
        "tot_neg": sum(r[2] for r in model_rows),
        "buckets": buckets,
        "alpha": float(alpha),
        "bigrams": bigrams,
    }
    return model_rows, stats


def nb_score(df: DataFrame, model_rows, stats, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """(id, n_grams, nb_score): positive-class log-odds per document.

    Buckets unseen in training still contribute their smoothing-only
    log-odds ln(α/(tot_pos+αB)) − ln(α/(tot_neg+αB)); rather than
    materialize all B buckets, that constant-per-gram term folds into
    the normalizer, and the broadcast model carries only trained buckets
    with the DELTA above the smoothing floor — identical arithmetic to
    the SQL twin, which uses the same decomposition.
    """
    buckets, alpha = stats["buckets"], stats["alpha"]
    spark = df.sparkSession
    schema = "bucket int, cnt_pos long, cnt_neg long"
    model = local_relation(spark, model_rows, schema)

    a = F.lit(alpha)
    ab = F.lit(alpha * buckets)
    prior = (F.log(F.lit(stats["n_pos"] + 1.0))
             - F.log(F.lit(stats["n_neg"] + 1.0)))
    # per-gram floor for an untrained bucket (cnt=0 both classes)
    floor = (F.log(a) - F.log(F.lit(stats["tot_pos"]) + ab)) \
        - (F.log(a) - F.log(F.lit(stats["tot_neg"]) + ab))

    doc_b = (
        _gram_rows(df, [F.col(id_col)], text_col, stats["bigrams"])
        .select(F.col(id_col),
                hashed_bucket(F.col("gram"), buckets).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    delta = F.col("cnt") * (
        (F.log(F.coalesce(F.col("cnt_pos"), F.lit(0)) + a)
         - F.log(F.lit(stats["tot_pos"]) + ab))
        - (F.log(F.coalesce(F.col("cnt_neg"), F.lit(0)) + a)
           - F.log(F.lit(stats["tot_neg"]) + ab))
        - floor
    )
    return (
        doc_b.join(F.broadcast(model), "bucket", "left")
        .groupBy(id_col)
        .agg(F.sum("cnt").alias("n_grams"), F.sum(delta).alias("_d"))
        .select(
            id_col,
            "n_grams",
            (prior + F.col("_d") + F.col("n_grams") * floor)
            .alias("nb_score"),
        )
    )


def _bucket_rows(df: DataFrame, keep_cols: list, text_col: str,
                 bigrams: bool, buckets: int,
                 sentinel: bool = False) -> DataFrame:
    """One row per (kept cols…, bucket): the hashed-bucket twin of
    dsir._gram_rows, built array-side so an optional per-document
    SENTINEL bucket (-1, impossible for a real hash) can ride the same
    explode — one scan yields gram counts AND per-document presence."""
    w = df.select(*keep_cols, normalized_words(F.col(text_col)).alias("_w"))
    keep = [c for c in w.columns if c != "_w"]
    w = w.select(*keep, "_w", F.size(F.col("_w")).alias("_n"))
    grams = F.col("_w")
    if bigrams:
        grams = F.concat(grams, _bigrams_zip(F.col("_w"), F.col("_n")))
    # hash at ROW level after the explode — higher-order array lambdas
    # run interpreted, so an array-side md5 would fall out of
    # whole-stage codegen (measured 1.5× slower). The sentinel rides as
    # an empty-string gram ("" can never be a real gram: real grams are
    # filtered non-empty) and maps to bucket -1 row-side.
    grams = F.filter(grams, lambda g: g != "")
    if sentinel:
        grams = F.concat(F.array(F.lit("")), grams)
    g = w.select(*keep, F.explode(grams).alias("gram"))
    return g.select(
        *keep,
        F.when(F.col("gram") == "", F.lit(-1))
        .otherwise(hashed_bucket(F.col("gram"), buckets)).alias("bucket"),
    )


def nb_train_score_split(df: DataFrame, train_pred,
                         label_col: str = "label", text_col: str = "text",
                         buckets: int = 4096, alpha: float = 1.0,
                         bigrams: bool = True,
                         id_col: str = "doc_id") -> DataFrame:
    """:func:`nb_train_score` for the train/score-split-of-one-corpus
    case (held-out scoring, the common quality-classifier setup): rows
    where ``train_pred`` holds train the model, the rest are scored.

    Both sides derive from ONE shared (id, bucket, cnt) aggregate with
    the split predicate applied AFTER it, so the two branches'
    exchange subplans canonicalize identically and Spark's
    ReuseExchange runs the gram explode + hash + count ONCE — the
    separate-scan form paid that scan (and a whole broadcast-build job)
    twice. The tiny model side then shuffle-joins on the bucket instead
    of broadcasting: a broadcast exchange of a derived frame is its own
    job barrier in local mode, while the extra hash exchange moves only
    the ≤ 2·buckets+1 model rows. Arithmetic identical to
    nb_train + nb_score (same smoothing-floor decomposition).

    Documented FLOOR (round 9, sf0.1 bench profile): ~1.2 s — explode
    0.34 s warm + the shared aggregate + two branch reads + the hinted
    join + the final agg, all in ONE job. Both alternative topologies
    measured worse: collect-model two-job 2.3 s, bucket-pre-partitioned
    (repartition before the agg to co-locate the model join) 2.0-2.5 s
    because the raw gram shuffle loses map-side combine. DuckDB replays
    the same query in ~0.3 s (its own job floor), so the ratio is
    per-row engine overhead, not plan shape."""
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (log of the smoothed counts)")
    from pyspark.sql import Window

    # _tr comes out of the aggregate (max of a per-doc constant), NOT a
    # grouping key: a filter on a grouping column pushes below the
    # aggregate and the exchange, splitting the shared gram scan back
    # into two (defeating ReuseExchange); a predicate on an aggregate
    # output cannot push, so both branches share ONE exchange.
    db = (
        _bucket_rows(df, [F.col(id_col),
                          F.col(label_col).alias("_y"),
                          train_pred.alias("_tr")],
                     text_col, bigrams, buckets, sentinel=True)
        .groupBy(id_col, "_y", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"),
             F.max("_tr").alias("_tr"))
    )
    real = F.col("bucket") >= 0
    raw = db.filter(F.col("_tr")).groupBy("bucket").agg(
        F.sum(F.when(F.col("_y"), F.col("cnt")).otherwise(F.lit(0)))
        .cast("long").alias("cnt_pos"),
        F.sum(F.when(~F.col("_y"), F.col("cnt")).otherwise(F.lit(0)))
        .cast("long").alias("cnt_neg"),
    )
    w_all = Window.partitionBy(F.lit(1))
    model = raw.select(
        "bucket", "cnt_pos", "cnt_neg",
        F.sum(F.when(real, F.col("cnt_pos")).otherwise(F.lit(0)))
        .over(w_all).alias("_tot_pos"),
        F.sum(F.when(real, F.col("cnt_neg")).otherwise(F.lit(0)))
        .over(w_all).alias("_tot_neg"),
        F.max(F.when(~real, F.col("cnt_pos"))).over(w_all).alias("_n_pos"),
        F.max(F.when(~real, F.col("cnt_neg"))).over(w_all).alias("_n_neg"),
    )

    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * buckets)
    prior = (F.log(F.coalesce(F.col("_n_pos"), F.lit(0)) + F.lit(1.0))
             - F.log(F.coalesce(F.col("_n_neg"), F.lit(0)) + F.lit(1.0)))
    floor = (F.log(a) - F.log(F.col("_tot_pos") + ab)) \
        - (F.log(a) - F.log(F.col("_tot_neg") + ab))
    delta = F.when(
        real & F.col("cnt_pos").isNotNull(),
        F.col("cnt") * (
            (F.log(F.col("cnt_pos") + a) - F.log(F.col("_tot_pos") + ab))
            - (F.log(F.col("cnt_neg") + a) - F.log(F.col("_tot_neg") + ab))
            - floor
        ),
    ).otherwise(F.lit(0.0))

    doc_b = db.filter(~F.col("_tr")).select(id_col, "bucket", "cnt")
    return (
        # shuffle_hash hint: the planner's size estimate for the bounded
        # model branch otherwise picks BroadcastHashJoin, whose build is
        # a separate job barrier in local mode — the hinted join keeps
        # everything in ONE job and the model-side exchange moves only
        # <= 2*buckets+1 rows
        doc_b.join(model.hint("shuffle_hash"), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.when(real, F.col("cnt")).otherwise(F.lit(0)))
            .alias("n_grams"),
            F.sum(delta).alias("_d"),
            F.max("_n_pos").alias("_n_pos"),
            F.max("_n_neg").alias("_n_neg"),
            F.max("_tot_pos").alias("_tot_pos"),
            F.max("_tot_neg").alias("_tot_neg"),
        )
        .filter(F.col("n_grams") > 0)
        .select(
            id_col,
            "n_grams",
            (prior + F.col("_d") + F.col("n_grams") * floor)
            .alias("nb_score"),
        )
    )


def nb_train_score(train_df: DataFrame, score_df: DataFrame,
                   label_col: str = "label", text_col: str = "text",
                   buckets: int = 4096, alpha: float = 1.0,
                   bigrams: bool = True,
                   id_col: str = "doc_id") -> DataFrame:
    """Fused train+score with NO driver round trip and NO persisted
    intermediate — the whole pipeline is ONE model broadcast build plus
    ONE score scan:

    * the train scan explodes each document's hashed buckets **plus a
      per-document sentinel bucket -1**, so the doc counts (the class
      priors) ride the same (bucket → cnt_pos/cnt_neg) aggregation as
      the gram counts — no second train scan, no crossJoined stats
      frame;
    * the gram totals and doc counts then become COLUMNS of every model
      row via window sums over the bounded model frame (≤ 2·buckets+1
      rows — constant w.r.t. data size), so the score side learns
      everything it needs from the one broadcast join;
    * the score scan injects the same sentinel, guaranteeing every
      document matches at least the -1 model row and can read the
      totals even when none of its grams was trained. Documents with
      zero grams are dropped at the end (n_grams = 0), matching
      nb_train + nb_score, where they never produce rows at all.

    Identical arithmetic to nb_train + nb_score — the smoothing-floor
    decomposition zeroes untrained buckets exactly, in both engines.
    Measured: q106 at sf0.1 went 1.6 s (collect-model shape) → 1.1 s
    (persist+crossJoin shape) → ~0.8 s (this shape)."""
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (log of the smoothed counts)")
    from pyspark.sql import Window

    tb = _bucket_rows(train_df, [F.col(label_col).alias("_y")], text_col,
                      bigrams, buckets, sentinel=True)
    raw = tb.groupBy("bucket").agg(
        F.sum(F.col("_y").cast("long")).alias("cnt_pos"),
        F.sum((~F.col("_y")).cast("long")).alias("cnt_neg"),
    )
    real = F.col("bucket") >= 0
    w_all = Window.partitionBy(F.lit(1))
    model = raw.select(
        "bucket", "cnt_pos", "cnt_neg",
        F.sum(F.when(real, F.col("cnt_pos")).otherwise(F.lit(0)))
        .over(w_all).alias("_tot_pos"),
        F.sum(F.when(real, F.col("cnt_neg")).otherwise(F.lit(0)))
        .over(w_all).alias("_tot_neg"),
        F.max(F.when(~real, F.col("cnt_pos"))).over(w_all).alias("_n_pos"),
        F.max(F.when(~real, F.col("cnt_neg"))).over(w_all).alias("_n_neg"),
    )

    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * buckets)
    prior = (F.log(F.coalesce(F.col("_n_pos"), F.lit(0)) + F.lit(1.0))
             - F.log(F.coalesce(F.col("_n_neg"), F.lit(0)) + F.lit(1.0)))
    floor = (F.log(a) - F.log(F.col("_tot_pos") + ab)) \
        - (F.log(a) - F.log(F.col("_tot_neg") + ab))
    # trained-bucket delta above the smoothing floor; untrained buckets
    # (no model row) contribute exactly 0 by the decomposition
    delta = F.when(
        real & F.col("cnt_pos").isNotNull(),
        F.col("cnt") * (
            (F.log(F.col("cnt_pos") + a) - F.log(F.col("_tot_pos") + ab))
            - (F.log(F.col("cnt_neg") + a) - F.log(F.col("_tot_neg") + ab))
            - floor
        ),
    ).otherwise(F.lit(0.0))

    doc_b = (
        _bucket_rows(score_df, [F.col(id_col)], text_col, bigrams,
                     buckets, sentinel=True)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        doc_b.join(F.broadcast(model), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.when(real, F.col("cnt")).otherwise(F.lit(0)))
            .alias("n_grams"),
            F.sum(delta).alias("_d"),
            # the sentinel row (always matched) carries the stats
            F.max("_n_pos").alias("_n_pos"),
            F.max("_n_neg").alias("_n_neg"),
            F.max("_tot_pos").alias("_tot_pos"),
            F.max("_tot_neg").alias("_tot_neg"),
        )
        .filter(F.col("n_grams") > 0)
        .select(
            id_col,
            "n_grams",
            (prior + F.col("_d") + F.col("n_grams") * floor)
            .alias("nb_score"),
        )
    )


def nb_score_sql(train_table: str, score_table: str, label_expr: str,
                 id_col: str, text_col: str, buckets: int,
                 alpha: float, bigrams: bool = True) -> str:
    """DuckDB replica of nb_train + nb_score as one WITH…SELECT producing
    (id, n_grams, nb_score). Same decomposition (delta above the
    smoothing floor + n_grams·floor + prior) so the float arithmetic
    matches term-for-term."""
    b = bucket_sql("gram", buckets)
    a = repr(float(alpha))
    ab = repr(float(alpha) * buckets)
    train_grams = gram_rows_sql(train_table, f"({label_expr}) AS _y",
                                text_col, bigrams)
    score_grams = gram_rows_sql(score_table, id_col, text_col, bigrams)
    return f"""
        WITH tg AS ({train_grams}),
        m AS (
          SELECT {b} AS bucket,
                 CAST(sum(CASE WHEN _y THEN 1 ELSE 0 END) AS BIGINT)
                   AS cnt_pos,
                 -- NOT NULL is NULL -> falls to ELSE 0, matching Spark's
                 -- null-skipping sum (a NULL label counts toward neither)
                 CAST(sum(CASE WHEN NOT _y THEN 1 ELSE 0 END) AS BIGINT)
                   AS cnt_neg
          FROM tg WHERE gram <> '' GROUP BY 1
        ),
        st AS (
          SELECT
            (SELECT count(*) FROM {train_table} WHERE {label_expr})
              AS n_pos,
            (SELECT count(*) FROM {train_table} WHERE NOT ({label_expr}))
              AS n_neg,
            COALESCE(sum(cnt_pos), 0) AS tot_pos,
            COALESCE(sum(cnt_neg), 0) AS tot_neg
          FROM m
        ),
        sg AS ({score_grams}),
        doc_b AS (
          SELECT {id_col}, {b} AS bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM sg WHERE gram <> '' GROUP BY 1, 2
        ),
        fl AS (
          SELECT (ln({a}) - ln(tot_pos + {ab}))
               - (ln({a}) - ln(tot_neg + {ab})) AS floor_term,
                 ln(n_pos + 1.0) - ln(n_neg + 1.0) AS prior,
                 tot_pos, tot_neg
          FROM st
        )
        SELECT j.{id_col} AS {id_col},
               CAST(sum(cnt) AS BIGINT) AS n_grams,
               first(prior)
                 + sum(cnt * ((ln(COALESCE(cnt_pos, 0) + {a})
                               - ln(tp + {ab}))
                            - (ln(COALESCE(cnt_neg, 0) + {a})
                               - ln(tn + {ab}))
                            - floor_term))
                 + sum(cnt) * first(floor_term) AS nb_score
        FROM (
          SELECT doc_b.*, m.cnt_pos, m.cnt_neg,
                 fl.floor_term, fl.prior,
                 fl.tot_pos AS tp, fl.tot_neg AS tn
          FROM doc_b
          LEFT JOIN m USING (bucket)
          CROSS JOIN fl
        ) j
        GROUP BY 1
    """


def isotonic_calibrate(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_bins: int = 32,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Isotonic (PAV) probability calibration over bounded score bins —
    the step after a quality classifier (Zadrozny & Elkan KDD'02): map
    raw classifier scores to empirical P(label=1 | score) constrained to
    be non-decreasing in the score. This is the deployment shape of a
    quality filter: train NB/fastText, calibrate on held-out labels,
    threshold on the CALIBRATED probability.

    Scale shape (the reason for the bins): one map-side-combined shuffle
    aggregates (count, positives) per fixed-width score bin — the only
    data-scale pass; the fit then runs on ≤ ``n_bins`` rows of driver
    state (the centroid/codebook discipline), and applying it is a
    broadcast join on the bin id. Exact isotonic regression on raw
    per-example scores needs a global sort + sequential pool scan —
    inherently serial; the binned fit is PAV on the grouped data, the
    standard large-scale formulation.

    The fitted value uses the minimax characterization (Ayer et al.
    1955, Robertson-Wright-Dykstra 1988):

        fit(i) = max_{j<=i} min_{k>=i} (pos_{j..k}) / (cnt_{j..k})

    over the NONEMPTY bins in score order, with block sums taken off
    exact BIGINT prefix sums and ONE double division per (j, k) — the
    q114 integer-sum discipline, so the DuckDB oracle (see
    :func:`isotonic_sql`) replays every double bit-for-bit: identical
    int differences, identical IEEE division, and min/max over
    identical value sets.

    Rows with a NULL or NaN score, or a NULL label, are excluded (both
    engines). Returns (bin, n_docs, n_pos, calibrated) for every
    nonempty bin, calibrated non-decreasing in bin.
    """
    if n_bins < 1 or not (hi > lo):
        raise ValueError("isotonic_calibrate: need n_bins >= 1 and hi > lo")
    span = float(hi) - float(lo)
    # clamp in DOUBLE space BEFORE the int cast: a far-out-of-range
    # score (±1e300) would overflow/wrap the INT cast, and NaN would
    # yield NULL in Spark but raise in the DuckDB twin — clamping the
    # double keeps the cast always in [0, n_bins-1] on both engines
    scaled = ((F.col(score_col) - F.lit(float(lo))) / F.lit(span)
              * F.lit(float(n_bins)))
    b = (F.floor(F.least(F.greatest(scaled, F.lit(0.0)),
                         F.lit(float(n_bins - 1))))
         .cast("int"))
    bins = (
        df.where(F.col(score_col).isNotNull()
                 & ~F.isnan(F.col(score_col).cast("double"))
                 & F.col(label_col).isNotNull())
        .select(b.alias("bin"), F.col(label_col).cast("long").alias("y"))
        .groupBy("bin")
        .agg(F.count("*").alias("n_docs"), F.sum("y").alias("n_pos"))
    )
    rows = sorted(((r["bin"], r["n_docs"], r["n_pos"])
                   for r in bins.collect()))          # <= n_bins rows
    spark = df.sparkSession
    schema = "bin int, n_docs long, n_pos long, calibrated double"
    if not rows:
        return local_relation(spark, [], schema)
    m = len(rows)
    ccum, scum, c, s = [], [], 0, 0
    for _, cnt, pos in rows:
        c += cnt
        s += pos
        ccum.append(c)
        scum.append(s)

    def block(j: int, k: int) -> float:
        # pos/cnt over nonempty bins j..k via exact int prefix sums;
        # the single division is the only float op (IEEE-identical to
        # the oracle's CAST(..AS DOUBLE)/CAST(..AS DOUBLE))
        cj = ccum[j] - rows[j][1]
        sj = scum[j] - rows[j][2]
        return (scum[k] - sj) / (ccum[k] - cj)

    # M[j][i] = min over k>=i of block(j, k), then fit(i) = max_{j<=i}
    fit = [None] * m
    for i in range(m):
        best = None
        for j in range(i + 1):
            mn = min(block(j, k) for k in range(i, m))
            best = mn if best is None or mn > best else best
        fit[i] = best
    out = [(int(bn), int(cnt), int(pos), fit[i])
           for i, (bn, cnt, pos) in enumerate(rows)]
    return local_relation(spark, out, schema)


def isotonic_sql(
    scored_sql: str,
    n_bins: int = 32,
    lo: float = 0.0,
    hi: float = 1.0,
) -> str:
    """DuckDB replica of :func:`isotonic_calibrate`. ``scored_sql`` must
    SELECT columns (score, label). Replays the same minimax over the
    same BIGINT prefix sums: the (j, k) enumeration is a bounded
    self-join of the <= n_bins nonempty-bin CTE, MIN per (i, j) then MAX
    per i — double-identical to the Spark fit."""
    span = repr(float(hi) - float(lo))
    return f"""
        WITH scored AS ({scored_sql}),
        b AS (
          SELECT CAST(floor(least(greatest((score - {repr(float(lo))})
                                           / {span} * {repr(float(n_bins))},
                                           0.0),
                                  {repr(float(n_bins - 1))}))
                      AS INT) AS bin,
                 CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(label) AS BIGINT) AS pos
          FROM scored
          WHERE score IS NOT NULL AND NOT isnan(CAST(score AS DOUBLE))
            AND label IS NOT NULL
          GROUP BY 1
        ),
        c AS (
          SELECT bin, cnt, pos,
                 CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS ccum,
                 CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS scum
          FROM b
        ),
        mn AS (
          SELECT i.bin AS bin, j.bin AS jbin,
                 MIN(CAST(k.scum - (j.scum - j.pos) AS DOUBLE)
                     / CAST(k.ccum - (j.ccum - j.cnt) AS DOUBLE)) AS mnv
          FROM c i
          JOIN c j ON j.bin <= i.bin
          JOIN c k ON k.bin >= i.bin
          GROUP BY 1, 2
        ),
        f AS (SELECT bin, MAX(mnv) AS calibrated FROM mn GROUP BY 1)
        SELECT c.bin AS bin, c.cnt AS n_docs, c.pos AS n_pos,
               f.calibrated AS calibrated
        FROM c JOIN f USING (bin)
        ORDER BY bin
    """
