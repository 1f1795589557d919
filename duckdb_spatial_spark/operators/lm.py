"""N-gram language-model perplexity scoring — the CCNet-style fluency
signal (Wenzek et al. 2020, public method): train a smoothed bigram LM on
a reference corpus, score every document, filter/bucket by perplexity.

Spark-first architecture (train/apply split like the IVF and BPE tiers):

- **train**: unigram + bigram counts are two partial-aggregated groupBy
  shuffles; bigram pairs come straight off the projected word array
  (zip of two shifted slices — no positional self-join, no row ids); the
  vocabulary is heavy-hitter truncated (top-V by freq desc, word asc —
  deterministic) and out-of-vocab words map to ``<unk>``, so the model
  tables stay bounded regardless of corpus size.
- **score**: explode the same shifted-slice pairs, broadcast joins (vocab
  map on each side + bigram/unigram counts), add-k smoothed
  log-probability, one groupBy back to documents. Everything JVM-side;
  no Python workers.

Exact semantics (mirrored verbatim by the SQL oracle):
  words  = lowercased whitespace tokens
  vocab  = top-V words; others → '<unk>'; effective vocab size V' = V+1
  P(w2|w1) = (c12 + k) / (c1 + k·V')      (add-k smoothing, k=0.5 default)
  nll(doc) = −mean ln P over the doc's bigrams; ppl = exp(nll)
Documents with fewer than 2 words produce no bigrams (absent from the
score output).
"""
from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..runtime import probe_arrow
from ..sources.tables import local_relation

__all__ = [
    "ngram_lm_train", "ngram_lm_score", "ngram_lm_score_sql",
    "kn_tables", "ngram_lm_score_kn", "ngram_lm_score_kn_sql", "UNK",
]

UNK = "<unk>"


def _words(text_col: str) -> Column:
    return F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda w: w != "",
    )


def _pair_rows(df: DataFrame, text_col: str, extra: list) -> DataFrame:
    """(…extra, w1, w2) — one row per adjacent word pair, via zip of two
    shifted slices of the projected word array (the array is bound to a
    column first: a slice captured inside a lambda would re-evaluate per
    element — the round-4 codegen lesson)."""
    ws = df.select(*extra, _words(text_col).alias("__ws"))
    n = F.size("__ws")
    pairs = F.zip_with(
        F.slice(F.col("__ws"), 1, F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("__ws"), 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return ws.select(*extra, F.explode(pairs).alias("p")) \
        .select(*extra, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))


def _map_unk(df: DataFrame, vocab: DataFrame, col: str) -> DataFrame:
    v = F.broadcast(vocab.select(F.col("word").alias(col))
                    .withColumn("__in_" + col, F.lit(1)))
    return df.join(v, col, "left").withColumn(
        col,
        F.when(F.col("__in_" + col).isNull(), F.lit(UNK))
        .otherwise(F.col(col)),
    ).drop("__in_" + col)


def _vocab_top(
    df: DataFrame, text_col: str, vocab_size: int
) -> Tuple[List[Tuple[str, int]], int]:
    """(top-V ``(word, freq)`` list in (freq desc, word asc) order, total
    token count) in ONE job with no persist: ``rollup(word)`` makes the
    grand total ride the same shuffle as the per-word counts, and the
    total row (word NULL, freq = Σ ≥ any word's freq, NULLs sorting
    first on ties) is always the first row of the TakeOrdered, so
    ``limit(V+1)`` returns exactly total + top-V."""
    rows = (
        df.select(F.explode(_words(text_col)).alias("word"))
        .rollup("word").agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word").asc_nulls_first())
        .limit(vocab_size + 1)
        .collect()
    )
    if not rows:  # empty corpus: no tokens at all
        return [], 0
    assert rows[0]["word"] is None, "rollup total row must sort first"
    return [(r["word"], int(r["freq"])) for r in rows[1:]], int(rows[0]["freq"])


def _vocab_tables(
    df: DataFrame, text_col: str, vocab_size: int
) -> Tuple[DataFrame, DataFrame]:
    """(vocab, unigram counts) from ONE word-count pass (:func:`_vocab_top`);
    the unigram table derives from the counts already in hand (vocab words
    keep their frequency, everything else is the <unk> residual) — no
    second corpus pass."""
    spark = df.sparkSession
    top, total = _vocab_top(df, text_col, vocab_size)
    vocab = local_relation(spark, [(w,) for w, _ in top], "word string")
    unk_mass = total - sum(f for _, f in top)
    uni_rows = [(w, f) for w, f in top]
    if unk_mass > 0:
        uni_rows.append((UNK, unk_mass))
    uni = local_relation(spark, uni_rows, "w1 string, c1 long")
    return vocab, uni


def ngram_lm_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 10_000,
) -> Tuple[DataFrame, DataFrame, DataFrame]:
    """Train tables: (vocab, unigram counts, bigram counts) over the
    ``<unk>``-mapped token stream. All three are bounded by vocab_size
    (vocab: V rows; unigrams: ≤ V+1; bigrams: the observed pairs), so
    they broadcast at score time."""
    spark = df.sparkSession
    vocab, uni = _vocab_tables(df, text_col, vocab_size)
    # pass 2: bigram counts over the <unk>-mapped pair stream; the result
    # is bounded (observed pairs over a V+1 alphabet), so materialize it —
    # broadcasting the raw plan at score time would re-run the pass
    pairs = _pair_rows(df, text_col, [])
    bi_plan = (
        _map_unk(_map_unk(pairs, vocab, "w1"), vocab, "w2")
        .groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    )
    # the bigram table can reach ~1e8 rows at vocab_size=10k. ONE bounded
    # probe decides the path AND holds the table on the small side. The
    # lazy persist serves only the over-cap side: the probe job fills the
    # cache, and the localCheckpoint that materializes a large table
    # DISTRIBUTED (severing the corpus-pass lineage) reads it.
    cap = 200_000
    bi_plan = bi_plan.persist()
    try:
        table = probe_arrow(bi_plan, cap)
        if table is not None:
            bi = local_relation(spark, table, "w1 string, w2 string, c12 long")
        else:
            bi = bi_plan.localCheckpoint(eager=True)
    finally:
        bi_plan.unpersist()
    return vocab, uni, bi


def ngram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    vocab_size: int,
    k: float = 0.5,
) -> DataFrame:
    """Per-document (nll, ppl) under the trained model. Broadcast joins
    only — the scored corpus streams through one scan + one groupBy on
    the document id."""
    vprime = float(vocab_size + 1)
    pairs = _pair_rows(df, text_col, [F.col(id_col)])
    mapped = _map_unk(_map_unk(pairs, vocab, "w1"), vocab, "w2")
    # no broadcast hint on bi: ngram_lm_train returns it DISTRIBUTED
    # past the 200k-row probe cap precisely because it can reach ~1e8
    # rows at vocab_size=10k — a forced broadcast would collect that to
    # the driver. The small path is a LocalRelation whose accurate size
    # stats make the optimizer broadcast it anyway.
    scored = (
        mapped.join(bi, ["w1", "w2"], "left")
        .join(F.broadcast(uni), ["w1"], "left")
        .select(
            id_col,
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + F.lit(k))
                / (F.coalesce(F.col("c1"), F.lit(0)).cast("double")
                   + F.lit(k * vprime))
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        (-F.avg("lp")).alias("nll"),
        F.exp(-F.avg("lp")).alias("ppl"),
    )


def ngram_lm_score_sql(
    table: str, id_expr: str, text_expr: str, vocab_size: int, k: float = 0.5
) -> str:
    """Self-contained DuckDB replica: trains on ``table`` and scores it,
    with the identical vocab truncation, <unk> mapping and add-k formula.
    Returns per-id (nll, ppl) — join/aggregate it as the query needs."""
    vprime = float(vocab_size + 1)
    ws = (f"list_filter(string_split_regex(lower(trim({text_expr})), "
          f"'\\s+'), x -> x <> '')")
    return f"""
      WITH base AS (
        SELECT {id_expr} AS __id, {ws} AS ws FROM {table}
      ), toks AS (
        SELECT __id, unnest(ws) AS word FROM base
      ), vocab AS (
        SELECT word FROM (
          SELECT word, count(*) AS freq FROM toks GROUP BY 1
        ) ORDER BY freq DESC, word LIMIT {vocab_size}
      ), rawpairs AS (
        SELECT __id,
               unnest(ws[1:len(ws)-1]) AS w1r,
               unnest(ws[2:len(ws)]) AS w2r
        FROM base
      ), pairs AS (
        SELECT p.__id,
               CASE WHEN va.word IS NULL THEN '{UNK}' ELSE p.w1r END AS w1,
               CASE WHEN vb.word IS NULL THEN '{UNK}' ELSE p.w2r END AS w2
        FROM rawpairs p
        LEFT JOIN vocab va ON va.word = p.w1r
        LEFT JOIN vocab vb ON vb.word = p.w2r
      ), uni AS (
        SELECT CASE WHEN v.word IS NULL THEN '{UNK}' ELSE t.word END AS w1,
               count(*) AS c1
        FROM toks t LEFT JOIN vocab v ON v.word = t.word
        GROUP BY 1
      ), bi AS (
        SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2
      ), scored AS (
        SELECT p.__id,
               ln((COALESCE(bi.c12, 0) + {k}) /
                  (COALESCE(u.c1, 0) + {k} * {vprime})) AS lp
        FROM pairs p
        LEFT JOIN bi ON bi.w1 = p.w1 AND bi.w2 = p.w2
        LEFT JOIN uni u ON u.w1 = p.w1
      )
      SELECT __id, -avg(lp) AS nll, exp(-avg(lp)) AS ppl
      FROM scored GROUP BY 1
    """


# ---------------------------------------------------------------------------
# interpolated Kneser-Ney (Kneser & Ney 1995 / Chen & Goodman 1999 —
# public method; the standard upgrade over add-k for fluency filtering)
# ---------------------------------------------------------------------------

def kn_tables(bi: DataFrame):
    """Derive the three Kneser-Ney statistics tables from the bigram
    counts alone — no extra corpus pass:

      ctx:  (w1, c1ctx, n1p_fwd)  — w1's count AS CONTEXT (sum of its
            bigrams, the standard KN denominator) and its distinct-
            continuation count N1+(w1 ·)
      cont: (w2, n1p_bwd)         — distinct-context count N1+(· w2)
      n1p_all                     — distinct bigram types N1+(· ·)

    All bounded by the <unk>-mapped alphabet (≤ V+1 rows each; n1p_all
    is a scalar), so they broadcast at score time.
    """
    ctx = bi.groupBy("w1").agg(
        F.sum("c12").alias("c1ctx"),
        F.count("*").cast("long").alias("n1p_fwd"),
    )
    cont = bi.groupBy("w2").agg(F.count("*").cast("long").alias("n1p_bwd"))
    n1p_all = bi.count()
    return ctx, cont, n1p_all


def ngram_lm_score_kn(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    bi: DataFrame,
    vocab_size: int,
    discount: float = 0.75,
) -> DataFrame:
    """Per-document (nll, ppl) under interpolated Kneser-Ney:

      Pcont(w2)  = (N1+(· w2) + 1) / (N1+(· ·) + V')     (add-1 so a word
                   never seen as a continuation keeps ln finite — mirrored
                   verbatim in the SQL twin)
      P(w2|w1)   = (max(c12 − d, 0) + d · N1+(w1 ·) · Pcont(w2)) / c1ctx(w1)
                   when w1 has context mass; else backoff to Pcont(w2)
                   (w1 can lack context mass when it only ever ended a
                   training document).

    Same plan shape as the add-k scorer: broadcast joins only, one scan
    of the scored corpus, one groupBy on the document id.
    """
    vprime = float(vocab_size + 1)
    d_ = float(discount)
    ctx, cont, n1p_all = kn_tables(bi)
    pairs = _pair_rows(df, text_col, [F.col(id_col)])
    mapped = _map_unk(_map_unk(pairs, vocab, "w1"), vocab, "w2")
    pcont = (F.coalesce(F.col("n1p_bwd"), F.lit(0)).cast("double")
             + F.lit(1.0)) / F.lit(float(n1p_all) + vprime)
    c12 = F.coalesce(F.col("c12"), F.lit(0)).cast("double")
    c1ctx = F.coalesce(F.col("c1ctx"), F.lit(0)).cast("double")
    n1p_fwd = F.coalesce(F.col("n1p_fwd"), F.lit(0)).cast("double")
    p = F.when(
        c1ctx > 0,
        (F.greatest(c12 - F.lit(d_), F.lit(0.0))
         + F.lit(d_) * n1p_fwd * pcont) / c1ctx,
    ).otherwise(pcont)
    # same no-hint rationale as ngram_lm_score: bi may be distributed
    scored = (
        mapped.join(bi, ["w1", "w2"], "left")
        .join(F.broadcast(ctx), ["w1"], "left")
        .join(F.broadcast(cont), ["w2"], "left")
        .select(id_col, F.log(p).alias("lp"))
    )
    return scored.groupBy(id_col).agg(
        (-F.avg("lp")).alias("nll"),
        F.exp(-F.avg("lp")).alias("ppl"),
    )


#: literal-expression vocab ceiling for the fused fast path: a V-entry
#: ``create_map`` / array literal compiles into the row codegen, so it must
#: stay small enough not to blow the generated method size.
_LITERAL_VOCAB_MAX = 512


def _doc_scores_small_vocab(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int,
    kind: str,
    k: float,
    discount: float,
    carry_cols: List[str],
) -> DataFrame:
    """Fused train+score, small-vocab (≤ :data:`_LITERAL_VOCAB_MAX`) path —
    TWO jobs total, the train/score minimum:

      job 1  :func:`_vocab_top` (rollup word counts, one shuffle);
      job 2  everything else in ONE plan: words map to integer ids
             through a literal ``create_map`` (pure codegen, no join),
             the pair stream takes ONE salted exchange on
             ``(v1, v2, salt)`` and is lazily persisted so the model
             branch and the score branch share it in-job; the model
             table (bigram counts + the Kneser-Ney statistics) derives
             from the bounded per-salt partials via window functions
             whose groups hold ≤ salt_parts (addk) / ≤ (V+1)·salt_parts
             (kn) rows; the score join is co-partitioned (zero extra
             exchange) and the salt spreads the hot ``(unk, unk)`` key,
             so no task ever sees more than ~1/salt_parts of a hot pair
             — the 100-TB skew story the plain (v1, v2) window/broadcast
             shapes lack.

    Unigram counts come as a literal array indexed by word id (they are
    known after job 1), so the add-k denominator costs no join at all.
    """
    spark = df.sparkSession
    vprime = float(vocab_size + 1)
    salt_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions",
                                        "200") or 200), 1)
    top, total = _vocab_top(df, text_col, vocab_size)
    unk_mass = float(total - sum(f for _, f in top))
    carry = [F.col(c) for c in carry_cols]

    n = F.size("__ws")
    ws = df.select(F.col(id_col), *carry, _words(text_col).alias("__ws"))
    pairs = ws.select(
        id_col, *carry_cols,
        F.explode(F.zip_with(
            F.slice(F.col("__ws"), 1, F.greatest(n - 1, F.lit(0))),
            F.slice(F.col("__ws"), 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )).alias("__p"),
    )
    if top:
        vmap = F.create_map(*[x for i, (w, _) in enumerate(top)
                              for x in (F.lit(w), F.lit(i + 1))])
        vid = lambda c: F.coalesce(F.element_at(vmap, c), F.lit(0))  # noqa: E731
    else:
        vid = lambda c: F.lit(0)  # noqa: E731
    mp = pairs.select(
        id_col, *carry_cols,
        vid(F.col("__p.w1")).alias("v1"),
        vid(F.col("__p.w2")).alias("v2"),
        F.pmod(F.xxhash64(id_col), F.lit(salt_parts)).cast("int").alias("__s"),
    )
    # lazy persist: one exchange feeds the model branch AND the score
    # branch of the single final job (trap #6 — without it the corpus
    # re-scans); cache lifetime as documented on ngram_lm_doc_scores
    cached = mp.repartition("v1", "v2", "__s").persist()
    part = cached.groupBy("v1", "v2", "__s").agg(F.count("*").alias("__pc"))
    w_pair = Window.partitionBy("v1", "v2")
    model = part.select(
        "v1", "v2", "__s",
        F.sum("__pc").over(w_pair).alias("c12"),
    )
    c1_arr = F.array(F.lit(unk_mass), *[F.lit(float(f)) for _, f in top])
    if kind == "addk":
        c1 = F.element_at(c1_arr, F.col("v1") + 1)
        lp = F.log(
            (F.col("c12").cast("double") + F.lit(k))
            / (c1 + F.lit(k * vprime)))
    else:
        # Kneser-Ney statistics as windows over the BOUNDED part frame
        # (≤ (V+1)²·salt_parts rows): one row per (v1, v2) carries a
        # flag (the min-salt row — an UNSORTED frame, unlike
        # row_number), making the distinct-continuation counts plain
        # window sums that share the c12 window's exchange.
        first = F.when(
            F.col("__s") == F.min("__s").over(w_pair), F.lit(1)
        ).otherwise(F.lit(0))
        flagged = part.withColumn("__f", first)
        model = flagged.select(
            "v1", "v2", "__s",
            F.sum("__pc").over(w_pair).alias("c12"),
            F.sum("__pc").over(Window.partitionBy("v1")).alias("c1ctx"),
            F.sum("__f").over(Window.partitionBy("v1")).alias("n1p_fwd"),
            F.sum("__f").over(Window.partitionBy("v2")).alias("n1p_bwd"),
            F.sum("__f").over(
                Window.partitionBy(F.lit(1))).alias("n1p_all"),
        )
        d_ = float(discount)
        pcont = (F.col("n1p_bwd").cast("double") + F.lit(1.0)) \
            / (F.col("n1p_all").cast("double") + F.lit(vprime))
        c12 = F.col("c12").cast("double")
        c1ctx = F.col("c1ctx").cast("double")
        n1p_fwd = F.col("n1p_fwd").cast("double")
        lp = F.log(F.when(
            c1ctx > 0,
            (F.greatest(c12 - F.lit(d_), F.lit(0.0))
             + F.lit(d_) * n1p_fwd * pcont) / c1ctx,
        ).otherwise(pcont))
    scored = (
        cached.hint("SHUFFLE_HASH")
        .join(model, ["v1", "v2", "__s"])
        .select(id_col, *carry_cols, lp.alias("lp"))
    )
    return scored.groupBy(id_col, *carry_cols).agg(
        (-F.avg("lp")).alias("nll"),
        F.exp(-F.avg("lp")).alias("ppl"),
    )


def ngram_lm_doc_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int,
    kind: str = "addk",
    k: float = 0.5,
    discount: float = 0.75,
    carry_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Fused train+score — per-document (nll, ppl) with the training
    tables derived from the SAME pair pass that scores the corpus.
    ``carry_cols`` are threaded through the whole pipeline and come back
    on the output rows (they must be functionally dependent on the id,
    e.g. a language tag), so callers aggregating by them avoid a
    post-hoc join with the source table.

    Two plan shapes by vocab size:

    * ``vocab_size <= _LITERAL_VOCAB_MAX`` — the two-job fast path
      (:func:`_doc_scores_small_vocab`): literal-map word→id, one salted
      exchange shared by the model and score branches, co-partitioned
      join (measured q87 at sf0.1: 1.97 s → 0.66 s).
    * larger vocabularies — ``dp`` per-(id, w1, w2) <unk>-mapped pair
      counts persisted lazily; the bigram table (and KN statistics)
      re-aggregate dp's cached partitions; broadcast hint on the bigram
      table while (V+1)² stays under ~1M, shuffle join past that.

    Cache lifetime (both paths persist one frame): blocks stay cached
    after the caller's action — the returned frame is lazy, so there is
    no point inside this function where they are safe to drop. The
    CacheManager keeps them until an explicit unpersist: releasing the
    returned DataFrame (Python GC, even a JVM GC) frees nothing, so
    long-lived sessions should call ``spark.catalog.clearCache()``.
    """
    if kind not in ("addk", "kn"):
        raise ValueError("kind must be 'addk' or 'kn'")
    carry = list(carry_cols or [])
    if vocab_size <= _LITERAL_VOCAB_MAX:
        return _doc_scores_small_vocab(
            df, id_col, text_col, vocab_size, kind, k, discount, carry)
    vocab, uni = _vocab_tables(df, text_col, vocab_size)
    pairs = _pair_rows(df, text_col,
                       [F.col(id_col)] + [F.col(c) for c in carry])
    dp = (
        _map_unk(_map_unk(pairs, vocab, "w1"), vocab, "w2")
        .groupBy(id_col, *carry, "w1", "w2")
        .agg(F.count("*").cast("long").alias("n"))
        .persist()
    )
    bi = dp.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    if (vocab_size + 1) ** 2 <= 1_000_000:
        bi = F.broadcast(bi)
    vprime = float(vocab_size + 1)
    if kind == "addk":
        lp = F.log(
            (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + F.lit(k))
            / (F.coalesce(F.col("c1"), F.lit(0)).cast("double")
               + F.lit(k * vprime))
        )
        scored = (
            dp.join(bi, ["w1", "w2"], "left")
            .join(F.broadcast(uni), ["w1"], "left")
            .select(id_col, *carry, lp.alias("lp"), F.col("n"))
        )
    else:
        d_ = float(discount)
        ctx = bi.groupBy("w1").agg(
            F.sum("c12").alias("c1ctx"),
            F.count("*").cast("long").alias("n1p_fwd"),
        )
        cont = bi.groupBy("w2").agg(
            F.count("*").cast("long").alias("n1p_bwd"))
        # N1+(· ·) stays IN-PLAN (1-row broadcast cross join) instead of
        # kn_tables' driver-side bi.count(): that count was a whole extra
        # pair-scan job before dp's cache was warm
        n1p = bi.agg(F.count("*").cast("double").alias("__n1p_all"))
        pcont = (F.coalesce(F.col("n1p_bwd"), F.lit(0)).cast("double")
                 + F.lit(1.0)) / (F.col("__n1p_all") + F.lit(vprime))
        c12 = F.coalesce(F.col("c12"), F.lit(0)).cast("double")
        c1ctx = F.coalesce(F.col("c1ctx"), F.lit(0)).cast("double")
        n1p_fwd = F.coalesce(F.col("n1p_fwd"), F.lit(0)).cast("double")
        p = F.when(
            c1ctx > 0,
            (F.greatest(c12 - F.lit(d_), F.lit(0.0))
             + F.lit(d_) * n1p_fwd * pcont) / c1ctx,
        ).otherwise(pcont)
        scored = (
            dp.join(bi, ["w1", "w2"], "left")
            .join(F.broadcast(ctx), ["w1"], "left")
            .join(F.broadcast(cont), ["w2"], "left")
            .crossJoin(F.broadcast(n1p))
            .select(id_col, *carry, F.log(p).alias("lp"), F.col("n"))
        )
    # weighted mean ≡ per-pair avg (lp·n sums the identical addends the
    # row-per-pair plan produced; float addition order differs, which the
    # queries' round(·, 4) already absorbs cross-engine)
    nll = -(F.sum(F.col("lp") * F.col("n")) / F.sum("n"))
    return scored.groupBy(id_col, *carry).agg(
        nll.alias("nll"), F.exp(nll).alias("ppl"))


def ngram_lm_score_kn_sql(
    table: str, id_expr: str, text_expr: str, vocab_size: int,
    discount: float = 0.75,
) -> str:
    """Self-contained DuckDB replica of train + Kneser-Ney score with the
    identical vocab truncation, <unk> mapping, statistics and formula."""
    vprime = float(vocab_size + 1)
    d_ = repr(float(discount))
    ws = (f"list_filter(string_split_regex(lower(trim({text_expr})), "
          f"'\\s+'), x -> x <> '')")
    return f"""
      WITH base AS (
        SELECT {id_expr} AS __id, {ws} AS ws FROM {table}
      ), toks AS (
        SELECT __id, unnest(ws) AS word FROM base
      ), vocab AS (
        SELECT word FROM (
          SELECT word, count(*) AS freq FROM toks GROUP BY 1
        ) ORDER BY freq DESC, word LIMIT {vocab_size}
      ), rawpairs AS (
        SELECT __id,
               unnest(ws[1:len(ws)-1]) AS w1r,
               unnest(ws[2:len(ws)]) AS w2r
        FROM base
      ), pairs AS (
        SELECT p.__id,
               CASE WHEN va.word IS NULL THEN '{UNK}' ELSE p.w1r END AS w1,
               CASE WHEN vb.word IS NULL THEN '{UNK}' ELSE p.w2r END AS w2
        FROM rawpairs p
        LEFT JOIN vocab va ON va.word = p.w1r
        LEFT JOIN vocab vb ON vb.word = p.w2r
      ), bi AS (
        SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2
      ), ctx AS (
        SELECT w1, sum(c12) AS c1ctx, count(*) AS n1p_fwd
        FROM bi GROUP BY 1
      ), cont AS (
        SELECT w2, count(*) AS n1p_bwd FROM bi GROUP BY 1
      ), allt AS (
        SELECT count(*) AS n1p_all FROM bi
      ), scored AS (
        SELECT p.__id,
               ln(CASE WHEN COALESCE(ctx.c1ctx, 0) > 0 THEN
                    (greatest(CAST(COALESCE(bi.c12, 0) AS DOUBLE) - {d_}, 0.0)
                     + {d_} * CAST(COALESCE(ctx.n1p_fwd, 0) AS DOUBLE)
                       * ((CAST(COALESCE(cont.n1p_bwd, 0) AS DOUBLE) + 1.0)
                          / (CAST(allt.n1p_all AS DOUBLE) + {vprime})))
                    / CAST(ctx.c1ctx AS DOUBLE)
                  ELSE
                    (CAST(COALESCE(cont.n1p_bwd, 0) AS DOUBLE) + 1.0)
                    / (CAST(allt.n1p_all AS DOUBLE) + {vprime})
                  END) AS lp
        FROM pairs p
        LEFT JOIN bi ON bi.w1 = p.w1 AND bi.w2 = p.w2
        LEFT JOIN ctx ON ctx.w1 = p.w1
        LEFT JOIN cont ON cont.w2 = p.w2
        CROSS JOIN allt
      )
      SELECT __id, -avg(lp) AS nll, exp(-avg(lp)) AS ppl
      FROM scored GROUP BY 1
    """
