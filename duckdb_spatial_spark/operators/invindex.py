"""Inverted-index layout: build a (term → posting segments) Parquet
dataset and answer conjunctive term queries from the INDEX alone — the
text-side sibling of the Hilbert layout in operators/cluster.py (the
reference's CREATE INDEX story, re-expressed as layout + pruned scans:
rtree_index_plan_scan.cpp turns a predicate into an index probe; here a
term predicate becomes a Parquet scan pruned to that term's rows).

Layout contract:

* one row per (term, segment): ``term``, ``seg`` (segment ordinal),
  ``df`` (the term's TOTAL document frequency, repeated on each
  segment), ``docs`` (sorted doc-id array, ≤ ``segment_size`` entries).
  Segmenting bounds the row width — a stopword's posting list at 100 TB
  is billions of ids, which must never materialize as ONE array value
  (Spark rows are memory-resident in whole); segments cap it at
  ``segment_size`` longs per row while keeping segment-local order.
* the dataset is written sorted by (term, seg), so Parquet min/max
  stats on ``term`` prune a conjunctive query's scan to exactly the
  requested terms' row groups — the index-probe analog.

Scale shape: build = one distinct (doc, term) projection → one
(term, segment) shuffle with map-side combine; query = a pruned scan of
the K requested terms + one explode + a doc-grouped count (rows =
Σ posting sizes of the K terms, never the corpus).
"""
from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime import adaptive_partitions

__all__ = [
    "build_inverted_index",
    "index_term_stats",
    "conjunctive_query",
    "build_scored_index",
    "scored_index_append",
    "bm25_search",
    "build_positional_index",
    "phrase_query",
]


def _terms(text_col: str) -> Column:
    return F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda w: w != "",
    )


def build_inverted_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_size: int = 100_000,
    num_partitions: Optional[int] = None,
) -> None:
    """Write the posting layout for ``df`` to ``path``.

    Plan: explode distinct (doc, term) pairs, assign each pair its
    segment ordinal ``floor(doc_id / span)`` with ``span`` sized so a
    uniform id range yields ≤ ``segment_size`` ids per segment — the
    segment key is derived from the DOC ID, not a row_number, so the
    build needs no per-term sort of unbounded posting lists: one
    groupBy (term, seg) with sort_array on the bounded segment array.
    ``df`` (total document frequency) is a window sum over the bounded
    per-segment counts.
    """
    from pyspark.sql import Window

    pairs = (
        df.select(F.col(id_col).alias("__d"), F.explode(_terms(text_col)).alias("term"))
        .distinct()
    )
    seg = F.floor(F.col("__d") / F.lit(int(segment_size))).cast("long")
    segs = (
        pairs.groupBy("term", seg.alias("seg"))
        .agg(F.sort_array(F.collect_list("__d")).alias("docs"),
             F.count("*").alias("__n"))
    )
    out = segs.select(
        "term", "seg",
        F.sum("__n").over(Window.partitionBy("term")).cast("long").alias("df"),
        "docs",
    )
    np_ = num_partitions or adaptive_partitions(df)
    (
        out.repartitionByRange(np_, "term", "seg")
        .sortWithinPartitions("term", "seg")
        .write.mode("overwrite").parquet(path)
    )


def index_term_stats(spark: SparkSession, path: str,
                     terms: List[str]) -> DataFrame:
    """(term, df) for the requested terms — reads ONLY their rows (the
    term filter reaches the Parquet scan as a PushedFilter; min/max
    stats on the sorted layout prune everything else)."""
    from ..sources.tables import read_layout

    return (
        read_layout(spark, path)
        .filter(F.col("term").isin(list(terms)))
        .groupBy("term").agg(F.max("df").cast("long").alias("df"))
    )


def conjunctive_query(spark: SparkSession, path: str,
                      terms: List[str]) -> DataFrame:
    """Doc ids containing ALL of ``terms``, answered from the index
    alone: pruned scan of the K terms' segments → explode → count per
    doc == K. Output: (doc_id) — one row per matching document.

    The per-doc aggregation shuffles Σ posting sizes of the K requested
    terms (never corpus-sized); a query for stopwords degrades to their
    posting mass, which is the inherent cost of the ANSWER, not a plan
    artifact."""
    from ..sources.tables import read_layout

    k = len(set(terms))
    idx = (
        read_layout(spark, path)
        .filter(F.col("term").isin(list(terms)))
    )
    hits = idx.select("term", F.explode("docs").alias("doc_id")).distinct()
    return (
        hits.groupBy("doc_id").agg(F.count("*").alias("__k"))
        .filter(F.col("__k") == k)
        .select("doc_id")
    )


def _scored_generation(df: DataFrame, path: str, id_col: str,
                       text_col: str, segment_size: int,
                       num_partitions: Optional[int], mode: str) -> None:
    from pyspark.sql import Window
    from pyspark import StorageLevel

    from .pipeline import normalized_words

    terms = (
        df.select(F.col(id_col).alias("__d"),
                  F.explode(normalized_words(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = terms.groupBy("__d", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"))
    # dl as a WINDOW sum over tf, not a tf ⋈ dl self-join: the join
    # planned the derived dl aggregate as a broadcast build — its own
    # job barrier that re-ran the tokenize+tf pipeline a second time
    # per generation (measured: one ~0.3 s CompletableFuture job per
    # generation at sf0.1). The window reuses tf's exchange output and
    # keeps ONE tokenize pass. Integer sum — identical either way.
    rows = tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("__d")).cast("long"))
    # rows is the bounded (doc, term, tf, dl) frame BOTH sinks need;
    # persist it so the stats pass reads the cache instead of
    # re-tokenizing the corpus a third time (guide §1.2: don't compute
    # things twice). Spills to disk at scale; unpersisted before return.
    rows = rows.persist(StorageLevel.MEMORY_AND_DISK)

    seg = F.floor(F.col("__d") / F.lit(int(segment_size))).cast("long")
    segs = (
        rows.groupBy("term", seg.alias("seg"))
        .agg(F.sort_array(
                F.collect_list(F.struct("__d", "tf", "dl"))).alias("__p"))
    )
    out = segs.select(
        "term", "seg",
        F.transform("__p", lambda x: x["__d"]).alias("docs"),
        F.transform("__p", lambda x: x["tf"]).alias("tfs"),
        F.transform("__p", lambda x: x["dl"]).alias("dls"),
    )
    np_ = num_partitions or adaptive_partitions(df)
    (
        out.repartitionByRange(np_, "term", "seg")
        .sortWithinPartitions("term", "seg")
        .write.mode(mode).parquet(path.rstrip("/") + "/postings")
    )
    # Stats from the persisted rows frame + one column-pruned id scan —
    # no tokenize re-run. Identities (exact, integer-only; they hold
    # across duplicate and null ids exactly like the old one-pass
    # form): Σ tf over (doc, term) == Σ per-row token counts (sum_dl);
    # distinct __d in tf == distinct ids with ≥ 1 token (n_dl); n_docs
    # counts ALL distinct ids including zero-token docs, so it comes
    # from df's id column alone (column pruning reaches the scan).
    # both aggregates leave the cluster through ONE union collect (two
    # independent 1-row subplans in a single job) instead of two driver
    # job barriers per generation
    srow, drow = (
        rows.agg(
            F.coalesce(F.sum("tf"), F.lit(0)).cast("long").alias("a"),
            F.countDistinct("__d").cast("long").alias("b"))
        .select(F.lit(0).alias("k"), "a", "b")
        .unionAll(
            df.agg(F.countDistinct(F.col(id_col)).cast("long").alias("a"))
            .select(F.lit(1).alias("k"), "a",
                    F.lit(0).cast("long").alias("b")))
        .collect()
    )
    if srow["k"] != 0:
        srow, drow = drow, srow
    sum_dl, n_dl, n_docs = srow["a"], srow["b"], drow["a"]
    rows.unpersist()
    # the stats ROW is a driver scalar by construction (one row per
    # generation); write it driver-side — a Spark write job (plus the
    # 1-row exchange it drags in) is pure overhead for one row. The
    # aggregations above still run distributed.
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    stats_dir = path.rstrip("/") + "/stats"
    if mode == "overwrite" and os.path.isdir(stats_dir):
        import shutil

        shutil.rmtree(stats_dir)
    os.makedirs(stats_dir, exist_ok=True)
    pq.write_table(
        pa.table({"n_docs": pa.array([n_docs], pa.int64()),
                  "sum_dl": pa.array([sum_dl], pa.int64()),
                  "n_dl": pa.array([n_dl], pa.int64())}),
        os.path.join(stats_dir, f"part-{uuid.uuid4().hex}.parquet"))


def build_scored_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_size: int = 100_000,
    num_partitions: Optional[int] = None,
) -> None:
    """Write a BM25-servable posting layout: ``{path}/postings`` rows are
    (term, seg, docs, tfs, dls) — term frequency and document length
    DENORMALIZED into the postings (the classic norms-in-the-index
    design) so a query never touches the corpus or a doc-length side
    table; ``{path}/stats`` holds one (n_docs, sum_dl, n_dl) row per
    generation, so corpus-level constants (N, avgdl) aggregate exactly
    across appends.

    Tokenization matches ``operators.rank`` (``normalized_words``) so
    scores off the index equal a straight ``bm25()`` corpus recompute.

    Plan: one (doc, term) partial-agg shuffle for tf → per-doc dl (both
    shuffle on the doc id, co-partitioned join) → one (term, seg)
    shuffle of bounded segments. Segment arrays stay ≤ ``segment_size``
    entries, so a stopword's posting mass spreads over many rows.
    """
    _scored_generation(df, path, id_col, text_col, segment_size,
                       num_partitions, "overwrite")


def scored_index_append(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_size: int = 100_000,
    num_partitions: Optional[int] = None,
) -> None:
    """Append NEW documents to a scored layout without re-reading the
    existing postings (the text twin of ``st_cluster_append``): the new
    generation's (term, seg) rows land as fresh sorted files next to the
    old ones, and a stats row for the new docs joins the stats table.
    Queries stay exact because document frequency is recomputed at query
    time from the pruned scan (Σ segment sizes per term — generations
    add up) and (N, avgdl) aggregate from the per-generation stats rows.

    Contract: appended ``id_col`` values must be NEW (an id present in
    an earlier generation would double-count, same as appending a
    duplicate row to any Parquet dataset).
    """
    _scored_generation(df, path, id_col, text_col, segment_size,
                       num_partitions, "append")


def bm25_search(
    spark: SparkSession,
    path: str,
    terms: List[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for a disjunctive BM25 query, answered from a
    ``build_scored_index`` layout ALONE — pruned scan of the query
    terms' segments (term filter reaches Parquet as a PushedFilter over
    the (term, seg)-sorted layout), explode the aligned posting arrays,
    one per-doc aggregation over Σ posting sizes of the query terms.

    Output: (doc_id, n_terms, score) ordered by (score DESC, doc_id),
    ``score`` rounded to 6 decimals. The per-doc sum folds partials in
    ascending-term order (sort_array → F.aggregate) so the double
    summation is order-deterministic and an ANSI oracle can replay it
    bit-for-bit with ``SUM(partial ORDER BY term)``. The fold lambda
    runs interpreted (trap #11) but over ≤ |query| elements per doc —
    not a hot path.
    """
    from pyspark.sql import Window

    from ..sources.tables import read_layout

    stats = read_layout(spark, path.rstrip("/") + "/stats").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        (F.sum("sum_dl").cast("double")
         / F.sum("n_dl").cast("double")).alias("avgdl"),
    )
    idx = (
        read_layout(spark, path.rstrip("/") + "/postings")
        .filter(F.col("term").isin(list(terms)))
    )
    # document frequency recomputed from the pruned scan: Σ segment
    # sizes per term — exact across append generations, and the window
    # group is the query terms' segment rows only (bounded). The window
    # must live in its OWN projection: co-planned with the explode it
    # would evaluate over the generated rows (Σ size² per term).
    segs = idx.select(
        "term", "docs", "tfs", "dls",
        F.sum(F.size("docs")).over(Window.partitionBy("term"))
         .cast("long").alias("df"),
    )
    hits = (
        segs.select("term", "df",
                    F.explode(F.arrays_zip("docs", "tfs", "dls")).alias("z"))
        .select("term", "df",
                F.col("z.docs").alias("doc_id"),
                F.col("z.tfs").alias("tf"),
                F.col("z.dls").alias("dl"))
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    partial = (idf * F.col("tf") * F.lit(k1 + 1.0) / denom).alias("p")
    per_doc = (
        hits.select("doc_id", "term", partial)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term", "p"))).alias("__a"))
        .select(
            "doc_id",
            F.size("__a").cast("long").alias("n_terms"),
            F.round(
                F.aggregate(F.transform("__a", lambda x: x["p"]),
                            F.lit(0.0).cast("double"),
                            lambda acc, x: acc + x),
                6,
            ).alias("score"),
        )
    )
    return per_doc.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def build_positional_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_size: int = 100_000,
    num_partitions: Optional[int] = None,
) -> None:
    """Write a POSITIONAL posting layout for phrase queries: one row per
    (term, segment) with aligned ``docs`` (sorted doc ids) and
    ``pos_lists`` (each doc's sorted 0-based token positions of the
    term). Positions are what a phrase query needs — adjacency checks
    replace the corpus re-scan a naive LIKE would do.

    Same scale shape as the scored layout: one (doc, term) shuffle with
    the positions aggregated map-side, one bounded (term, seg) shuffle;
    the per-(doc, term) position array is bounded by the document's
    token count, never the corpus.
    """
    from .pipeline import normalized_words

    toks = (
        df.select(F.col(id_col).alias("__d"),
                  F.posexplode(normalized_words(F.col(text_col)))
                  .alias("pos", "term"))
        .filter(F.col("term") != "")
    )
    occ = toks.groupBy("__d", "term").agg(
        F.sort_array(F.collect_list(F.col("pos").cast("int")))
        .alias("positions"))
    seg = F.floor(F.col("__d") / F.lit(int(segment_size))).cast("long")
    segs = (
        occ.groupBy("term", seg.alias("seg"))
        .agg(F.sort_array(
                F.collect_list(F.struct("__d", "positions"))).alias("__p"))
    )
    out = segs.select(
        "term", "seg",
        F.transform("__p", lambda x: x["__d"]).alias("docs"),
        F.transform("__p", lambda x: x["positions"]).alias("pos_lists"),
    )
    np_ = num_partitions or adaptive_partitions(df)
    (
        out.repartitionByRange(np_, "term", "seg")
        .sortWithinPartitions("term", "seg")
        .write.mode("overwrite").parquet(path.rstrip("/") + "/postings")
    )


def phrase_query(spark: SparkSession, path: str,
                 phrase: List[str]) -> DataFrame:
    """Documents containing the exact phrase (terms at consecutive
    token positions), answered from a positional index alone. Output:
    (doc_id, n_occurrences) — one row per matching doc, occurrence
    count = number of phrase start positions.

    Plan: pruned scan of the phrase's K distinct terms → explode to
    (term, doc, positions) → left-fold adjacency with
    ``array_intersect(positions_so_far + 1, next_term_positions)`` —
    K-1 doc-keyed equi-joins over posting-bounded rows, all the
    position math in col-exprs. A phrase of stopwords degrades to
    their posting mass, the inherent cost of the answer.
    """
    if not phrase:
        raise ValueError("phrase_query: empty phrase")
    from ..sources.tables import read_layout

    idx = (
        read_layout(spark, path.rstrip("/") + "/postings")
        .filter(F.col("term").isin(list(set(phrase))))
    )
    hits = (
        idx.select("term",
                   F.explode(F.arrays_zip("docs", "pos_lists")).alias("z"))
        .select("term", F.col("z.docs").alias("doc_id"),
                F.col("z.pos_lists").alias("positions"))
    )
    cur = (hits.filter(F.col("term") == phrase[0])
           .select("doc_id", F.col("positions").alias("__cur")))
    for t in phrase[1:]:
        nxt = (hits.filter(F.col("term") == t)
               .select("doc_id", F.col("positions").alias("__nxt")))
        cur = (
            cur.join(nxt, "doc_id")
            .select(
                "doc_id",
                F.array_intersect(
                    F.transform("__cur", lambda p: p + F.lit(1)),
                    F.col("__nxt"),
                ).alias("__cur"),
            )
            .filter(F.size("__cur") > 0)
        )
    return cur.select(
        "doc_id", F.size("__cur").cast("long").alias("n_occurrences"))
