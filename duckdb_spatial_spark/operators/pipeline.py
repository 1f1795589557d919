"""Training-data pipeline operators: decontamination, deterministic
sampling, PII redaction, paragraph-level dedup.

These are beyond the reference's spatial scope — they are the corpus-prep
operations a large-scale training-data pipeline runs next to dedup/ANN
(SURVEY §2 addendum "LLM-data-pipeline operators"). Every operator is
column-expression/JVM-side where possible and keeps one narrow shuffle
per logical step, so each plan survives a 100× scale-up:

* ``decontaminate`` — eval-set n-gram overlap (the GPT-3 appendix-C style
  "remove any training doc sharing an n-gram with the benchmark"):
  benchmark n-grams are a *small* set → broadcast semi-join; the corpus
  side is an explode + equi-join with no wide shuffle.
* ``hash_sample`` / ``stratified_sample`` — reproducible Bernoulli
  sampling from a portable 31-bit hash of the row id (NOT ``F.rand``,
  which is only per-partition-deterministic and breaks under AQE /
  repartition). The same arithmetic evaluates bit-identically in ANSI
  SQL, so sampled outputs are oracle-checkable.
* ``redact_pii`` — single-pass regexp scrub (email / IPv4 / phone) with
  RE2-compatible patterns (no backrefs/lookaround) so the exact same
  pattern runs in Spark (Java regex) and DuckDB (RE2).
* ``paragraph_dedup`` — corpus-wide first-occurrence paragraph
  deduplication (boilerplate removal): posexplode → one shuffle on the
  paragraph hash to pick the global first occurrence → reassemble.
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..runtime import probe_arrow
from ..sources.generate import _uniform01_portable, portable_uniform_sql

__all__ = [
    "word_ngrams",
    "benchmark_ngrams",
    "decontaminate",
    "hash_sample",
    "stratified_sample",
    "PII_PATTERNS",
    "redact_pii",
    "pii_count",
    "paragraph_dedup",
    "repetition_metrics",
    "gopher_repetition_filter",
    "GOPHER_REPETITION_THRESHOLDS",
    "pack_sequences",
    "quality_buckets",
    "cap_per_key",
    "profile_table",
    "salted_agg",
    "corpus_diff",
    "c4_clean",
    "c4_clean_sql",
    "C4_TERMINAL_PUNCT",
]


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def normalized_words(text: Column) -> Column:
    """Lower-cased, trimmed, whitespace-collapsed word array."""
    return F.split(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "), " ")


def ngrams_of_words(words: Column, n: int) -> Column:
    """Distinct word n-grams from a word-array column.

    IMPORTANT scale note: pass a *projected* column (a bound reference),
    not the ``split(...)`` expression itself — an expression argument is
    re-evaluated per ``transform`` element by codegen, turning the gram
    build O(words²) per row (measured 3.7 s → 0.6 s on q70 at sf0.1).
    """
    cnt = F.size(words)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(cnt - F.lit(n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )


def word_ngrams(text: Column, n: int = 8) -> Column:
    """Distinct word n-grams of ``text`` as array<string> — pure col-expr.

    Normalization: lower-case, trim, split on runs of whitespace; grams are
    the n-word windows re-joined with single spaces. Stays inside
    whole-stage codegen (no Python). Prefer projecting
    :func:`normalized_words` first and calling :func:`ngrams_of_words` in
    a separate select — see its scale note.
    """
    return ngrams_of_words(normalized_words(text), n)


def benchmark_ngrams(bench_df: DataFrame, text_col: str = "text",
                     n: int = 8) -> DataFrame:
    """Distinct word n-grams over an eval/benchmark corpus →
    DataFrame(gram string). Eval sets are small (MBs); the result is the
    broadcast side of :func:`decontaminate`."""
    words = bench_df.select(normalized_words(F.col(text_col)).alias("_w"))
    return (
        words.select(F.explode(ngrams_of_words(F.col("_w"), n)).alias("gram"))
        .distinct()
    )


def decontaminate(
    df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    mode: str = "drop",
    bloom_fpp: Optional[float] = None,
    flag_projection: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Remove (or flag) training docs that share any word n-gram with a
    benchmark corpus — test-set decontamination.

    ``mode='drop'`` returns the clean subset of ``df``; ``mode='flag'``
    returns ``df`` plus a boolean ``contaminated`` column.
    ``flag_projection`` (flag mode) narrows the result to
    ``(id_col, *flag_projection, contaminated)`` on EVERY path: with a
    bounded benchmark the named columns ride the gram explode, so the
    flag computes as ONE scan + one per-doc aggregate with no join back
    to ``df``; the distributed-bloom and plain broadcast paths return
    the same projected schema via a join against the projected base.

    Scale shape: the benchmark n-gram set is broadcast (eval sets are
    small by construction); the corpus side is one explode + broadcast
    equi-join + aggregate on ``id_col`` — no wide shuffle of text. At a
    benchmark too large to broadcast, drop the ``broadcast()`` hint and
    the same plan becomes a sort-merge semi-join on the gram hash.
    """
    if mode not in ("drop", "flag"):
        raise ValueError(f"mode must be 'drop' or 'flag', got {mode!r}")
    grams = benchmark_ngrams(bench_df, text_col, n)
    carry = list(flag_projection or [])
    words = df.select(F.col(id_col), *carry,
                      normalized_words(F.col(text_col)).alias("_w"))
    exploded = words.select(
        F.col(id_col), *carry,
        F.explode(ngrams_of_words(F.col("_w"), n)).alias("gram"),
    )
    if bloom_fpp is not None:
        # scale path: a Bloom prefilter drops ~(1-fpp) of corpus grams
        # executor-side BEFORE the join shuffles anything; false
        # positives are removed by the exact join that follows, so
        # results are identical (tested) — only the shuffle volume
        # drops. Two tiers:
        from .bloom import (LITERAL_BLOOM_MAX_BITS, bloom_expr,
                            bloom_might_contain, bloom_size,
                            build_bloom, build_bloom_bits_local)

        probe = grams.select(
            "gram",
            F.xxhash64("gram").alias("__h1"),
            # second hash from the 8-byte first hash — half the string
            # hashing on the (much larger) corpus probe side
            F.xxhash64(F.xxhash64("gram"), F.lit(0xB10F)).alias("__h2"))
        if not 0.0 < bloom_fpp < 1.0:
            raise ValueError(
                f"bloom_fpp must be in (0, 1), got {bloom_fpp!r}")
        # largest n whose bloom_size(n, fpp) geometry still fits the
        # plan-literal bit budget (the old `// 10` hardcoded the
        # fpp=0.01 sizing: a smaller fpp made bloom_size exceed
        # LITERAL_BLOOM_MAX_BITS and broke bloom.py's documented bound).
        # Also clamped ABSOLUTELY: as fpp → 1 the geometry formula
        # diverges, and the literal path collects cap_items gram rows to
        # the driver and builds an isin() plan literal from them — the
        # clamp keeps both bounded no matter the fpp.
        import math as _math

        cap_items = max(1, min(
            int(LITERAL_BLOOM_MAX_BITS * (_math.log(2) ** 2)
                / -_math.log(bloom_fpp)),
            LITERAL_BLOOM_MAX_BITS // 8,
        ))
        head = probe_arrow(probe, cap_items)
        if head is not None:
            # bounded benchmark (the common decontamination case): the
            # ONE probe the exact broadcast join needs anyway also
            # carries xxhash64 pairs, so the filter builds driver-side
            # and rides the plan as a pure-codegen literal — no count
            # job, no distributed build job, no Python worker at scan.
            m_bits, k = bloom_size(max(head.num_rows, 1), bloom_fpp)
            bit_words = build_bloom_bits_local(
                zip(head.column("__h1").to_pylist(),
                    head.column("__h2").to_pylist()), m_bits, k)
            hashed = exploded.select(
                id_col, *carry, "gram",
                F.xxhash64("gram").alias("__h1"),
                F.xxhash64(F.xxhash64("gram"), F.lit(0xB10F))
                .alias("__h2"),
            )
            # exact verification as a literal InSet (codegen hash-set
            # probe), with no join against the grams the driver holds
            gram_set = head.column("gram").to_pylist()
            hit = (bloom_expr(bit_words, m_bits, k,
                              F.col("__h1"), F.col("__h2"))
                   & F.col("gram").isin(gram_set))
            if mode == "flag" and carry:
                # join-free flag: every doc emits >= 1 gram (short docs
                # produce one truncated gram), so the per-doc max(hit)
                # aggregate covers the whole corpus in ONE scan
                return (
                    hashed.groupBy(id_col, *carry)
                    .agg(F.max(hit).alias("contaminated"))
                )
            hit_ids = (
                hashed.filter(hit).select(id_col).distinct()
            )
            if mode == "drop":
                return df.join(hit_ids, id_col, "left_anti")
            return df.join(
                hit_ids.withColumn("contaminated", F.lit(True)),
                id_col, "left",
            ).withColumn("contaminated",
                         F.coalesce(F.col("contaminated"), F.lit(False)))
        else:
            # benchmark too large for a plan literal: distributed bit-
            # array build (treeAggregate OR), Arrow-UDF membership.
            n_grams = grams.count()
            bloom = build_bloom(grams, "gram", max(n_grams, 1), bloom_fpp)
            exploded = bloom_might_contain(exploded, "gram", bloom) \
                .filter(F.col("might")).drop("might")
            grams = F.broadcast(grams)
    else:
        grams = F.broadcast(grams)
    hit_ids = (
        exploded.join(grams, "gram", "inner")
        .select(id_col)
        .distinct()
    )
    if mode == "flag" and carry:
        # the projected flag schema holds on EVERY path (the literal-
        # bloom fast path above returns it join-free): flag against the
        # PROJECTED base — not the exploded rows, which the bloom
        # prefilter may have emptied for a clean doc — so the output
        # schema no longer silently widens to df.* when the benchmark
        # outgrows the plan-literal cap
        return (
            df.select(id_col, *carry)
            .join(hit_ids.withColumn("contaminated", F.lit(True)),
                  id_col, "left")
            .withColumn("contaminated",
                        F.coalesce(F.col("contaminated"), F.lit(False)))
        )
    if mode == "drop":
        return df.join(hit_ids, id_col, "left_anti")
    return df.join(
        hit_ids.withColumn("contaminated", F.lit(True)), id_col, "left"
    ).withColumn("contaminated", F.coalesce(F.col("contaminated"), F.lit(False)))


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

def hash_sample(
    df: DataFrame,
    id_col: str,
    fraction: float,
    seed: int = 0,
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose portable 31-bit
    hash-uniform of ``id_col`` is < ``fraction``.

    Unlike ``df.sample()`` / ``F.rand(seed)`` (deterministic only for a
    fixed partitioning), the decision depends on the row id alone, so the
    sample is stable across partitioning, AQE re-plans, cluster sizes —
    and reproducible in ANSI SQL (see :func:`sample_predicate_sql`).
    """
    u = _uniform01_portable(F.col(id_col).cast("long"), 1_000_003 * seed + 11)
    return df.where(u < F.lit(float(fraction)))


def sample_predicate_sql(id_expr: str, fraction: float, seed: int = 0) -> str:
    """The ANSI-SQL mirror of :func:`hash_sample`'s keep-predicate."""
    u = portable_uniform_sql(id_expr, 1_000_003 * seed + 11)
    return f"({u} < {float(fraction)!r})"


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: Dict[str, float],
    seed: int = 0,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the source/language mixing
    step of a corpus pipeline ("keep 50% of en, 10% of src17, …").

    One codegen'd CASE over the fractions map and the same portable
    hash-uniform; zero shuffles, zero Python. Strata absent from
    ``fractions`` use ``default_fraction``.
    """
    frac = F.lit(float(default_fraction))
    for value, f_keep in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(float(f_keep))).otherwise(frac)
    u = _uniform01_portable(F.col(id_col).cast("long"), 1_000_003 * seed + 11)
    return df.where(u < frac)


def group_sample(
    df: DataFrame,
    group_cols,
    k: int,
    id_col: str = "doc_id",
    seed: int = 0,
    oversample: float = 4.0,
) -> DataFrame:
    """Exact-count deterministic sampling: the k smallest portable-hash
    rows per group (the eval-set-carving / per-domain-cap step a corpus
    pipeline runs where a FRACTION isn't the contract, a COUNT is).
    Adds ``rk`` ∈ [1, k]; retry-stable and ANSI-replayable.

    Two deterministic steps, both part of the semantics so an oracle
    replays them exactly: rows with ``u * group_size <= oversample * k``
    form the candidate pool (≈ oversample·k rows per group with uniform
    u — the per-group sort never sees the whole group), then the k
    smallest (u, id) survive. Groups with fewer than ~k candidates
    deterministically yield fewer rows (raise ``oversample`` when exact
    k matters more than the sort bound).

    Scale: one group-keyed size aggregate joined back (both sides
    shuffle on the group key — group cardinality is unbounded, so no
    forced broadcast) + one exchange of the candidate pool.

    ``id_col`` must be UNIQUE within each group: the hash and the
    (u, id) tie-break both derive from it, so duplicate ids rank
    arbitrarily among themselves.
    """
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    group_cols = list(group_cols)
    u = _uniform01_portable(F.col(id_col).cast("long"),
                            1_000_003 * seed + 131)
    t = df.withColumn("__u", u)
    sizes = t.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__n"))
    cand = (
        t.join(sizes, group_cols)
        .filter(F.col("__u") * F.col("__n") <= F.lit(float(oversample * k)))
    )
    w = Window.partitionBy(*group_cols).orderBy(F.col("__u"), F.col(id_col))
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .drop("__u", "__n")
    )


def token_budget_mix(
    df: DataFrame,
    domain_col: str,
    budgets: Dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0,
    default_budget: float = 0.0,
) -> DataFrame:
    """Downsample each domain to a TOKEN budget (the mixture-weights
    step of a training-data recipe: "at most B_d tokens from domain d").
    Document-level deterministic Bernoulli with keep fraction
    ``min(1, budget_d / domain_tokens_d)`` — hits the budget in
    expectation while keeping whole documents; exact-count trims are
    :func:`group_sample`'s job. Adds ``tokens`` (whitespace count) and
    ``keep_frac`` columns; rows from domains over budget are dropped
    with probability 1 - f_d, under-budget domains pass whole.

    Domains ABSENT from ``budgets`` get ``default_budget``, which
    defaults to 0.0 — i.e. unlisted domains are DROPPED entirely (a
    training mix is an allowlist; silently passing an unbudgeted crawl
    domain would distort the recipe). Pass
    ``default_budget=float("inf")`` to make unlisted domains pass
    through instead.

    Scale: one domain-keyed token-total aggregate joined back (no
    forced broadcast — domain cardinality is unbounded) + the same
    portable-hash predicate every sampler here uses; deterministic and
    retry-stable given the corpus.
    """
    from .textops import token_count

    t = df.withColumn("tokens", token_count(F.col(text_col)).cast("long"))
    totals = t.groupBy(domain_col).agg(
        F.sum("tokens").cast("long").alias("__tot"))
    budget = F.lit(float(default_budget))
    for dom, b in sorted(budgets.items()):
        budget = F.when(F.col(domain_col) == dom,
                        F.lit(float(b))).otherwise(budget)
    f = F.when(F.col("__tot") > 0,
               F.least(F.lit(1.0), budget / F.col("__tot"))) \
        .otherwise(F.lit(0.0))
    u = _uniform01_portable(F.col(id_col).cast("long"),
                            1_000_003 * seed + 173)
    return (
        t.join(totals, domain_col)
        .withColumn("keep_frac", f)
        .filter(u < F.col("keep_frac"))
        .drop("__tot")
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    rare_max_df: int = 1,
) -> DataFrame:
    """Corpus-novelty scoring: per document, the fraction of its
    DISTINCT word n-grams whose corpus-wide document frequency is
    ≤ ``rare_max_df`` — high = original content, low = boilerplate /
    template / near-copy mass (the rarity signal curation recipes pair
    with the repetition filters). Output: (id, n_grams, n_rare,
    novelty); documents shorter than ``n`` words score on their single
    truncated gram (same clamp as :func:`word_ngrams`).

    Plan: distinct-gram explode → md5 so only a fixed-width hash
    shuffles (gram text never leaves the scan stage) → the corpus
    document frequency as a PARTITION-ONLY window count over the one
    (hash) exchange (per-doc distinct rows make the count the DOCUMENT
    frequency directly) → per-doc agg. The earlier groupBy+join-back
    formulation ran the explode+md5 scan TWICE: the join's left
    exchange carries (id, hash) rows while the count side's exchange
    carries partial aggregates, so the two subplans never canonicalize
    equal and ReuseExchange can't fire.
    """
    words = df.select(F.col(id_col),
                      normalized_words(F.col(text_col)).alias("__w"))
    # explode first, hash row-side: a generator can't nest in md5(), and
    # per-row md5 stays in whole-stage codegen (trap #11)
    hashed = words.select(
        F.col(id_col),
        F.explode(ngrams_of_words(F.col("__w"), n)).alias("__g"),
    ).select(F.col(id_col), F.md5("__g").alias("__h"))
    dfreq = hashed.withColumn(
        "__df",
        F.count(F.lit(1)).over(Window.partitionBy("__h")).cast("long"))
    return (
        dfreq
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
             F.sum(F.when(F.col("__df") <= rare_max_df, 1).otherwise(0))
              .cast("long").alias("n_rare"))
        .withColumn("novelty",
                    F.col("n_rare").cast("double")
                    / F.col("n_grams").cast("double"))
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Sampling WITHOUT replacement with probability ∝ weight
    (Efraimidis–Spirakis 2006: key = ln(u)/w, keep the k largest —
    equivalent to u^(1/w) order): the weighted pick a mixture recipe
    needs when domains aren't equal ("sample documents ∝ length").
    Deterministic via the portable hash of the id, so retry-stable and
    ANSI-replayable; rows with weight ≤ 0 are excluded (they carry no
    sampling mass).

    Output: (id, weight, key) — ``key`` rounded to 6 and the top-k
    taken by (rounded key DESC, id), so the k-boundary can't split on
    an ulp across engines.

    Scale: a pure projection + TakeOrdered (per-partition heaps, never
    a full sort); no shuffle at all.
    """
    u = _uniform01_portable(F.col(id_col).cast("long"),
                            1_000_003 * seed + 211)
    # clamp away u=0 (ln(0) = -inf) — part of the semantics, replayed
    # identically by the SQL twin
    key = F.log(F.greatest(u, F.lit(1e-12))) \
        / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        # + 0.0 normalizes IEEE -0.0: the key is a NEGATIVE value whose
        # 6-dp rounding hits zero for large weights (u near 1), and the
        # engines disagree on the rounded zero's sign (sf0.1 gate caught
        # DuckDB -0.0 vs Spark +0.0 on doc 957) — same normalization as
        # the SQL twin
        .select(F.col(id_col), F.col(weight_col).alias("weight"),
                (F.round(key, 6) + F.lit(0.0)).alias("key"))
        .orderBy(F.col("key").desc(), F.col(id_col))
        .limit(k)
    )


def weighted_sample_sql(id_expr: str, weight_expr: str,
                        seed: int = 0) -> str:
    """DuckDB twin of :func:`weighted_sample`'s Gumbel key."""
    u = portable_uniform_sql(id_expr, 1_000_003 * seed + 211)
    return (f"(round(ln(greatest({u}, 1e-12)) "
            f"/ CAST({weight_expr} AS DOUBLE), 6) + 0.0)")


def token_budget_sql(id_expr: str, seed: int = 0) -> str:
    """The DuckDB twin of :func:`token_budget_mix`'s keep-hash."""
    return portable_uniform_sql(id_expr, 1_000_003 * seed + 173)


def group_sample_sql(id_expr: str, k: int, seed: int = 0,
                     oversample: float = 4.0) -> tuple:
    """(u_expr, cutoff_expr) — the DuckDB twins of
    :func:`group_sample`'s hash and candidate cutoff, for oracles."""
    u = portable_uniform_sql(id_expr, 1_000_003 * seed + 131)
    return u, f"{float(oversample * k)!r}"


def stratified_predicate_sql(
    id_expr: str,
    strata_expr: str,
    fractions: Dict[str, float],
    seed: int = 0,
    default_fraction: float = 0.0,
) -> str:
    """ANSI-SQL mirror of :func:`stratified_sample`'s keep-predicate."""
    u = portable_uniform_sql(id_expr, 1_000_003 * seed + 11)
    whens = " ".join(
        f"WHEN {strata_expr} = '{v}' THEN {float(f)!r}"
        for v, f in sorted(fractions.items())
    )
    return f"({u} < CASE {whens} ELSE {float(default_fraction)!r} END)"


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# RE2-compatible (no backreferences, no lookaround) so the identical
# pattern string runs in Spark's Java regex AND DuckDB's RE2.
PII_PATTERNS: Dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d{1,3}[-. ]\d{3}[-. ]\d{3,4}[-. ]\d{4}\b",
}


def redact_pii(
    text: Column,
    kinds: Iterable[str] = ("email", "ipv4", "phone"),
    replacement: str = "[PII]",
) -> Column:
    """Scrub PII spans from ``text`` — chained ``regexp_replace`` calls,
    fully JVM-side. Order follows ``kinds`` (emails before phones so the
    digits of an already-redacted span can't re-match)."""
    out = text
    for kind in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], replacement)
    return out


def pii_count(text: Column, kind: str) -> Column:
    """Number of matches of one PII pattern (int)."""
    return F.regexp_count(text, F.lit(PII_PATTERNS[kind]))


def redact_sql(text_expr: str, kinds: Iterable[str] = ("email", "ipv4", "phone"),
               replacement: str = "[PII]") -> str:
    """DuckDB mirror of :func:`redact_pii` (RE2 needs the 'g' flag for
    replace-all; Spark replaces all by default)."""
    out = text_expr
    for kind in kinds:
        # SQL-standard string literals: backslash is literal, only quotes double
        pat = PII_PATTERNS[kind].replace("'", "''")
        out = f"regexp_replace({out}, '{pat}', '{replacement}', 'g')"
    return out


# ---------------------------------------------------------------------------
# paragraph-level dedup (boilerplate removal)
# ---------------------------------------------------------------------------

def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    min_chars: int = 1,
    keep_first: bool = True,
) -> DataFrame:
    """Corpus-wide paragraph deduplication: split every document on
    ``sep``, keep only the globally-first occurrence of each distinct
    paragraph (ordered by (id, position)), and reassemble the surviving
    paragraphs in original order. Documents left with no paragraphs are
    dropped. Paragraphs shorter than ``min_chars`` are always kept
    (headings/short fragments are not boilerplate candidates).

    This is the repeated-boilerplate removal pass of web-corpus pipelines
    (nav bars, cookie banners, footers repeated across millions of pages).

    Scale shape: posexplode → window-min over the paragraph *hash* (one
    shuffle, and only (hash, id, pos) ints move — never the text twice)
    → filter → groupBy(id) reassemble (second shuffle on the doc id).
    ``keep_first=False`` keeps *no* copy of any paragraph seen in more
    than one position (strict boilerplate strip).
    """
    parts = F.split(F.col(text_col), re.escape(sep), -1)
    exploded = df.select(
        F.col(id_col).alias("_pid"),
        F.posexplode(parts).alias("_pos", "_para"),
    ).where(F.length("_para") > 0)

    h = F.xxhash64(F.col("_para"))
    w = Window.partitionBy(h)
    first_id = F.min(F.struct(F.col("_pid"), F.col("_pos"))).over(w)
    n_copies = F.count(F.lit(1)).over(w)
    if keep_first:
        keep = (
            (F.length("_para") < min_chars)
            | ((first_id["_pid"] == F.col("_pid")) & (first_id["_pos"] == F.col("_pos")))
        )
    else:
        keep = (F.length("_para") < min_chars) | (n_copies == 1)
    kept = exploded.withColumn("_keep", keep).where(F.col("_keep"))

    reassembled = (
        kept.groupBy("_pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                    lambda s: s["_para"],
                ),
                sep,
            ).alias("_newtext"),
            F.count(F.lit(1)).alias("_npara"),
        )
    )
    out = df.join(
        reassembled.select(
            F.col("_pid").alias(id_col),
            F.col("_newtext"),
            F.col("_npara"),
        ),
        id_col,
        "inner",
    )
    other_cols = [c for c in df.columns if c != text_col]
    return out.select(
        *other_cols,
        F.col("_newtext").alias(text_col),
        F.col("_npara").alias("n_paragraphs"),
    )


# ---------------------------------------------------------------------------
# repetition metrics (Gopher-style quality rules)
# ---------------------------------------------------------------------------

# Public thresholds from Rae et al. 2021 ("Scaling Language Models: ...
# Gopher"), appendix A (table A1): a document is removed when any metric
# EXCEEDS its threshold.
GOPHER_REPETITION_THRESHOLDS: Dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def _repetition_row(text: str, top_ns: Sequence[int], dup_ns: Sequence[int]):
    """One doc's metrics. Grams are counted as TUPLES of words via
    ``Counter(zip(*(words[i:] ...)))`` — C-speed windowing, tuple hashes
    reuse each word's cached string hash, and no per-position ``join()``
    string is ever built (the joined-strings form measured ~2× slower, a
    per-doc numpy ``unique(axis=0)`` ~4× slower on short docs). A gram's
    char length is the sum of its word lengths + (n-1) separators, which
    equals the joined string's length exactly; strings materialize only
    to break top-gram count ties (rare)."""
    from collections import Counter

    out = []
    lines = [ln for ln in (text or "").split("\n") if ln.strip()]
    if lines:
        lc = Counter(lines)
        n_dup = sum(c for c in lc.values() if c > 1)
        chars_dup = sum(len(l) * c for l, c in lc.items() if c > 1)
        total_line_chars = sum(len(l) for l in lines)
        out.append(n_dup / len(lines))
        out.append(chars_dup / total_line_chars if total_line_chars else 0.0)
    else:
        out.extend([0.0, 0.0])

    norm = " ".join((text or "").lower().split())
    words = norm.split(" ") if norm else []
    L = len(norm)
    m = len(words)
    if m == 0 or L == 0:
        out.extend([0.0] * (len(top_ns) + len(dup_ns)))
        return out

    counts: dict = {}

    def gram_counts(n):
        if n not in counts:
            counts[n] = Counter(zip(*(words[i:] for i in range(n))))
        return counts[n]

    for n in top_ns:
        if m < n:
            out.append(0.0)
            continue
        c = gram_counts(n)
        cmax = max(c.values())
        cand = [g for g, k in c.items() if k == cmax]
        best = min(cand, key=" ".join) if len(cand) > 1 else cand[0]
        out.append(cmax * (sum(map(len, best)) + n - 1) / L)
    for n in dup_ns:
        if m < n:
            out.append(0.0)
            continue
        c = gram_counts(n)
        out.append(
            sum((sum(map(len, g)) + n - 1) * k for g, k in c.items() if k > 1) / L
        )
    return out


def repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: Sequence[int] = (2, 3, 4),
    dup_ns: Sequence[int] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Per-document repetition signals (the Gopher repetition-quality
    family): fraction of duplicated lines (count and chars), fraction of
    normalized chars covered by the single most frequent word n-gram
    (``top_ns``), and by all duplicated word n-grams (``dup_ns``; each
    occurrence's chars counted, the common linear approximation of the
    paper's span-cover rule).

    Runs as ONE Arrow-batched mapInPandas stage — per-document Counters
    are linear in document length (a pure col-expr formulation would be
    O(words²) per row), embarrassingly parallel, zero shuffle. Ties for
    the top gram break deterministically (highest count, then smallest
    gram) so the result is oracle-checkable.
    """
    import pandas as pd

    metric_cols = ["dup_line_frac", "dup_line_char_frac"]
    metric_cols += [f"top_{n}gram_char_frac" for n in top_ns]
    metric_cols += [f"dup_{n}gram_char_frac" for n in dup_ns]
    keep_cols = [c for c in df.columns]
    schema_parts = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = schema_parts + ", " + ", ".join(f"{m} double" for m in metric_cols)

    tn, dn = tuple(top_ns), tuple(dup_ns)

    def gen(batches):
        for pdf in batches:
            vals = [
                _repetition_row(t, tn, dn) for t in pdf[text_col].astype(object)
            ]
            met = pd.DataFrame(vals, columns=metric_cols, index=pdf.index)
            yield pd.concat([pdf[keep_cols], met], axis=1)

    return df.mapInPandas(gen, schema=schema)


def gopher_repetition_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    thresholds: Optional[Dict[str, float]] = None,
) -> DataFrame:
    """Drop documents failing any Gopher repetition rule (metric >
    threshold). Returns the surviving rows of ``df`` with the metric
    columns attached."""
    th = dict(GOPHER_REPETITION_THRESHOLDS)
    if thresholds:
        th.update(thresholds)
    top_ns = tuple(
        sorted(int(k.split("_")[1][:-4]) for k in th if k.startswith("top_"))
    )
    dup_ns = tuple(
        sorted(int(k.split("_")[1][:-4]) for k in th if k.startswith("dup_") and k.endswith("gram_char_frac"))
    )
    m = repetition_metrics(df, id_col, text_col, top_ns=top_ns, dup_ns=dup_ns)
    cond = F.lit(True)
    for name, limit in sorted(th.items()):
        cond = cond & (F.col(name) <= F.lit(float(limit)))
    return m.where(cond)


# ---------------------------------------------------------------------------
# sequence packing (concat-and-split example packing)
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    capacity: int,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """GPT-style concat-and-split packing: documents are concatenated in
    ``id_col`` order into one token stream and cut into fixed ``capacity``
    windows. Adds ``start_off`` (the doc's global token offset), ``bin_id``
    (= start_off // capacity) and ``spans_boundary`` (doc crosses a window
    cut).

    This is a global prefix sum, computed DISTRIBUTED: range-repartition by
    id → partition-local running sum (window over the partition id — one
    narrow shuffle whose groups are the ~equal-sized range partitions) →
    tiny per-partition totals collected once and turned into a codegen'd
    CASE offset. No global single-partition window anywhere, so the plan
    survives a 100× scale-up (the per-partition totals stay
    O(num_partitions)).
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    np_ = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(np_, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    d = d.localCheckpoint(eager=False)  # pin partitioning: _pid must not be recomputed under a re-plan
    totals = {
        r["_pid"]: r["_t"]
        for r in d.groupBy("_pid").agg(F.sum(token_col).alias("_t")).collect()
    }
    off, acc = {}, 0
    for pid in sorted(totals):
        off[pid] = acc
        acc += totals[pid] or 0
    offset_expr = F.lit(0).cast("long")
    for pid, o in sorted(off.items()):
        offset_expr = F.when(F.col("_pid") == pid, F.lit(o).cast("long")).otherwise(offset_expr)

    w = Window.partitionBy("_pid").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    running = F.sum(token_col).over(w).cast("long")
    start = (running - F.col(token_col) + offset_expr).alias("start_off")
    out = d.select("*", start)
    return (
        out.withColumn("bin_id", F.floor(F.col("start_off") / capacity).cast("long"))
        .withColumn(
            "spans_boundary",
            # a zero-token doc occupies no window and can never span one
            # (the raw end-offset formula reads one token BACKWARD for
            # tokens=0 and mislabels docs sitting exactly on a cut)
            (F.col(token_col) > 0)
            & (F.floor(F.col("start_off") / capacity)
               != F.floor((F.col("start_off") + F.col(token_col) - 1)
                          / capacity)),
        )
        .drop("_pid")
    )


# ---------------------------------------------------------------------------
# document chunking (context-window preparation)
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split each document into overlapping ``max_tokens``-word windows
    (context-length chunking): chunk k covers words
    [k·stride, k·stride+max_tokens) with stride = max_tokens − overlap, and
    ``n_chunks = max(1, ceil((n_words − overlap) / stride))`` so the tail
    chunk always reaches the end without emitting a runt fully contained in
    its predecessor.

    Pure col-expr: the word array is projected once (a bound reference —
    see :func:`ngrams_of_words` for why), chunks come from one transform +
    posexplode. Zero shuffles, zero Python.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    words = df.select("*", F.split(F.col(text_col), " ").alias("_w"))
    n = F.size("_w")
    n_chunks = F.greatest(
        F.floor((n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)).cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.concat_ws(" ", F.slice(F.col("_w"), k * stride + 1, max_tokens)),
    )
    other = [c for c in df.columns if c != text_col]
    return (
        words.select(*other, F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
        .withColumn("chunk_tokens", F.size(F.split(F.col("chunk_text"), " ")))
    )


def chunk_documents_sql(max_tokens: int, overlap: int,
                        text_expr: str = "text") -> str:
    """DuckDB mirror of the chunk windows: (chunk_idx, chunk_text) pairs as
    an unnestable list-of-structs expression."""
    stride = max_tokens - overlap
    return f"""
        list_transform(
          range(0, greatest(CAST((len(string_split({text_expr}, ' ')) - {overlap}
                                  + {stride - 1}) // {stride} AS BIGINT), 1)),
          k -> struct_pack(
                 chunk_idx := k,
                 chunk_text := array_to_string(
                   list_slice(string_split({text_expr}, ' '),
                              k * {stride} + 1, k * {stride} + {max_tokens}), ' '))
        )"""


# ---------------------------------------------------------------------------
# temperature mixing (source re-weighting)
# ---------------------------------------------------------------------------

def temperature_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    target_rows: int,
    alpha: float = 0.5,
    seed: int = 0,
    ndigits: Optional[int] = None,
):
    """Source-balanced subsampling: draw ~``target_rows`` rows with
    per-source keep-probability ∝ count(source)^alpha / count(source)
    (alpha < 1 up-weights small sources — the multilingual/temperature
    sampling rule). alpha=0.5 uses sqrt, which is IEEE-correctly-rounded
    everywhere, so the fractions (and therefore the sampled set, via the
    portable hash-uniform) are bit-reproducible in ANSI SQL.

    Two-phase: one tiny groupBy-count collected to the driver (O(#sources)
    rows at any corpus size), then the same zero-shuffle deterministic
    predicate as :func:`stratified_sample`. Returns (sampled_df,
    fractions) so callers can log the realized mix.
    """
    counts = {r[0]: r[1] for r in df.groupBy(source_col).count().collect()}
    if alpha == 0.5:
        weights = {s: float(n) ** 0.5 for s, n in counts.items()}
    else:
        weights = {s: float(n) ** alpha for s, n in counts.items()}
    wsum = sum(weights[s] for s in sorted(weights))
    fractions = {
        s: min(1.0, target_rows * weights[s] / wsum / counts[s]) for s in counts
    }
    if ndigits is not None:
        # pin the fractions to a fixed precision so a SQL replica summing
        # the weights in a different order lands on the identical value
        fractions = {s: round(f, ndigits) for s, f in fractions.items()}
    return (
        stratified_sample(df, id_col, source_col, fractions, seed=seed),
        fractions,
    )


# ---------------------------------------------------------------------------
# CCNet-style quality bucketing (head / middle / tail)
# ---------------------------------------------------------------------------

def quality_buckets(
    df: DataFrame,
    text_col: str,
    lang_col: str,
    n_buckets: int = 3,
    score: Optional[Column] = None,
    exact: bool = True,
    id_col: str = "doc_id",
    score_col: Optional[str] = None,
):
    """Assign each document to a per-language quality bucket (1 = best),
    the CCNet head/middle/tail split that web-corpus pipelines use to
    gate what reaches training.

    exact=True (oracle path): ``ntile(n)`` over a window partitioned by
    language, ordered by (score DESC, id) — deterministic, SQL-replicable,
    but sorts each language partition (the dominant language is the skew
    at 100 TB).

    exact=False (scale path): per-language score cutoffs from
    ``percentile_approx`` (one partial-aggregating pass, O(langs) result
    broadcast back), bucket assigned by comparison — no sort, no window,
    one scan. Boundary docs may land one bucket off vs exact; that is the
    documented trade of the approximate quantile sketch.

    ``score_col``: when set, the computed score is kept on the output
    under that name — consumers aggregating the score avoid paying the
    whole score expression (a multi-regex scan per row) a second time.
    """
    from ..operators.textops import quality_score

    s = score if score is not None else quality_score(F.col(text_col))
    scored = df.withColumn("__q", s)
    out_score = ([] if score_col is None
                 else [F.col("__q").alias(score_col)])
    if exact:
        w = Window.partitionBy(lang_col).orderBy(
            F.col("__q").desc(), F.col(id_col))
        return scored.select(
            "*", *out_score, F.ntile(n_buckets).over(w).alias("bucket")
        ).drop("__q")
    cuts = scored.groupBy(lang_col).agg(
        F.percentile_approx(
            "__q",
            [i / n_buckets for i in range(1, n_buckets)],
            10000,
        ).alias("__cuts")
    )
    joined = scored.join(F.broadcast(cuts), on=lang_col)
    # bucket = 1 + number of cutpoints strictly above this score (cuts are
    # ascending quantiles; bucket 1 holds the top scores)
    bucket = F.lit(1) + F.aggregate(
        F.col("__cuts"),
        F.lit(0),
        lambda acc, c: acc + (F.col("__q") < c).cast("int"),
    )
    return joined.select("*", *out_score,
                         bucket.alias("bucket")).drop("__q", "__cuts")


def cap_per_key(
    df: DataFrame,
    key_col: str,
    n: int,
    order_col: str,
) -> DataFrame:
    """Deterministic per-key quota: keep the first ``n`` rows of each key
    ordered by ``order_col`` (the per-domain document cap every web-corpus
    recipe applies so megadomains can't dominate the training mix).
    Window row_number per key — the sort is per-key and the hot key IS the
    thing being capped, so the skew this would normally create is bounded
    by the quota itself."""
    w = Window.partitionBy(key_col).orderBy(F.col(order_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n).drop("__rn"))


def profile_table(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Data-quality profile: one row per column with (n, n_null,
    n_distinct, min, max) — values stringified so mixed types stack into
    one tall table. Plan shape: one aggregate branch per column UNIONed
    into a SINGLE job. Each branch carries exactly one count(DISTINCT),
    so Catalyst's distinct rewrite plans it as a two-level hash aggregate
    on that column alone — no Expand (N distincts in one aggregate
    replicate every row N×, measured 8 s on a 600k-row 5-column profile)
    and no serial per-column jobs (the previous driver-collected shape
    paid N+1 job launches ≈ 3 s of fixed cost for the same work). Fully
    declarative: no driver collect, so it composes at any scale."""
    from functools import reduce

    outs = []
    for c in columns:
        outs.append(
            df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(c).isNull().cast("long")).alias("n_null"),
                F.countDistinct(F.col(c)).cast("long").alias("n_distinct"),
                F.min(F.col(c)).cast("string").alias("min_str"),
                F.max(F.col(c)).cast("string").alias("max_str"),
            ).select(
                F.lit(c).alias("column"),
                "n", "n_null", "n_distinct", "min_str", "max_str",
            )
        )
    return reduce(DataFrame.unionByName, outs)


def _salt_expr(df: DataFrame, salt: int) -> Column:
    """Retry-deterministic salt in [0, salt): xxhash64 over the row's
    hashable columns plus spark_partition_id(). MapType columns are
    excluded (xxhash64 rejects maps — their iteration order is
    undefined); the partition id spreads identical rows that land in
    different partitions while staying stable under stage retry (a
    retried task recomputes the same partition, unlike
    monotonically_increasing_id / row_number, whose values depend on
    within-partition row order — the SPARK-23207 class). Identical rows
    within one partition still share a salt: the price of
    retry-exactness."""
    hashable = [
        F.col(fld.name) for fld in df.schema.fields
        if "MapType" not in fld.dataType.__class__.__name__
        and "map<" not in fld.dataType.simpleString()
    ]
    return F.pmod(
        F.xxhash64(*hashable, F.spark_partition_id()), F.lit(salt)
    ).cast("int")


def salted_agg(
    df: DataFrame,
    key_col: str,
    aggs: Dict[str, tuple],
    salt: int = 16,
) -> DataFrame:
    """Skew-safe decomposable aggregation: stage 1 aggregates on
    (key, salt) — a hot key's rows spread over ``salt`` reducers instead
    of melting one — stage 2 combines the partials per key. ``aggs`` maps
    output name → (column, kind) with kind ∈ sum/count/min/max (the
    decomposable kinds; combine = sum for sum/count, min/max for the
    rest). Result equals the direct groupBy exactly for these kinds
    (integer/exact types; float sums may differ in addition order).

    AQE's skew handling covers JOINS; a skewed AGGREGATION key still
    lands on one reducer without this two-level shape."""
    part_exprs = []
    final_exprs = []
    for name, (col, kind) in aggs.items():
        p = f"__p_{name}"
        if kind == "sum":
            part_exprs.append(F.sum(col).alias(p))
            final_exprs.append(F.sum(p).alias(name))
        elif kind == "count":
            part_exprs.append(F.count(col).alias(p))
            final_exprs.append(F.sum(p).cast("long").alias(name))
        elif kind == "min":
            part_exprs.append(F.min(col).alias(p))
            final_exprs.append(F.min(p).alias(name))
        elif kind == "max":
            part_exprs.append(F.max(col).alias(p))
            final_exprs.append(F.max(p).alias(name))
        else:
            raise ValueError(f"kind {kind!r}: sum/count/min/max")
    # content+partition-derived salt: retry-stable (see _salt_expr);
    # identical rows co-locating is harmless for decomposable aggregates
    staged = df.withColumn("__salt", _salt_expr(df, salt))
    p1 = staged.groupBy(key_col, "__salt").agg(*part_exprs)
    return p1.groupBy(key_col).agg(*final_exprs)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the left side's rows spread over ``salt``
    sub-keys (a deterministic hash of the row content, so a single mega-key's
    rows land on ``salt`` reducers instead of melting one) and the right
    side replicates once per sub-key.  Result is row-identical to the
    plain join; cost is ``salt×`` the RIGHT side's shuffle volume — use it
    when the right side is the small-but-not-broadcastable one and a few
    left keys dominate.

    AQE's skew-join handling splits oversized sort-merge partitions at
    runtime and usually makes manual salting unnecessary — this operator
    is for the cases AQE can't touch: AQE disabled (deterministic plan
    reproduction), shuffle-hash joins, or a skewed key feeding a
    downstream co-partitioned stage that must not be split.  ``how``
    supports inner/left joins (right replication keeps both exact).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    keys = list(key_cols)
    # salt from row content + partition id, not
    # monotonically_increasing_id (nondeterministic under partial stage
    # retry — a retried map task re-salting rows differently
    # duplicates/loses join rows). See _salt_expr for the determinism
    # and MapType notes.
    lsalt = left.withColumn("__salt", _salt_expr(left, salt))
    rsalt = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    out = lsalt.join(rsalt, keys + ["__salt"], how)
    return out.drop("__salt")


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
):
    """Snapshot diff between two corpus versions: returns a DataFrame
    (id, status) with status ∈ added/removed/changed/unchanged —
    the audit step between ingestion runs. One full outer join on the id
    with md5 content compare; no text leaves the executors (only hashes
    shuffle)."""
    o = old.select(F.col(id_col).alias("id"),
                   F.md5(F.col(text_col)).alias("__ho"))
    n = new.select(F.col(id_col).alias("id"),
                   F.md5(F.col(text_col)).alias("__hn"))
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("__ho").isNull(), F.lit("added"))
        .when(F.col("__hn").isNull(), F.lit("removed"))
        .when(F.col("__ho") != F.col("__hn"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("id", status.alias("status"))


# ---------------------------------------------------------------------------
# C4 heuristic page cleaning (Raffel et al. 2020, §2.2 — the published rules)
# ---------------------------------------------------------------------------

# a kept line must end in one of these (C4's "terminal punctuation mark")
C4_TERMINAL_PUNCT = ('.', '!', '?', '"')

# placeholder blocklist — production passes the published "List of Dirty,
# Naughty, Obscene or Otherwise Bad Words"; kept tiny and neutral here
_C4_DEFAULT_BAD_WORDS = ("nsfw", "lorem ipsum")


def _c4_line_keep(line: Column, min_words: int) -> Column:
    """Line-level C4 predicate: ends in terminal punctuation, has at least
    ``min_words`` words, and does not mention javascript."""
    t = F.trim(line)
    ends_ok = None
    for p in C4_TERMINAL_PUNCT:
        cond = t.endswith(p)
        ends_ok = cond if ends_ok is None else (ends_ok | cond)
    nwords = F.size(F.split(F.regexp_replace(t, r"\s+", " "), " "))
    return (
        ends_ok
        & (nwords >= F.lit(min_words))
        & ~F.lower(t).contains("javascript")
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_lines: int = 3,
    bad_words: Sequence[str] = _C4_DEFAULT_BAD_WORDS,
    out_col: str = "clean_text",
) -> DataFrame:
    """The C4 cleaning heuristics as one codegen projection.

    Line stage (Raffel et al. 2020 §2.2 kept only lines that end in a
    terminal punctuation mark, have >= 5 words, and don't mention
    javascript): lines split on newline, filtered with a pure array
    lambda. Page stage (C4 dropped pages with fewer than 3 sentences —
    approximated here as fewer than ``min_lines`` surviving terminal-
    punctuated lines — any blocklist word, 'lorem ipsum', or a curly
    brace): emitted as a boolean ``c4_keep`` — callers filter on it or
    keep it as an audit column.

    Adds ``out_col`` (newline-joined surviving lines), ``n_lines`` /
    ``n_lines_kept``, and ``c4_keep``. Zero shuffles, zero Python — the
    whole operator is one whole-stage-codegen projection, so at 100 TB it
    rides the scan (the ideal shape for a per-document filter).
    """
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, lambda l: _c4_line_keep(l, min_words_per_line))
    kept_text = F.concat_ws("\n", F.transform(kept, F.trim))
    low = F.lower(F.col(text_col))
    page_ok = (F.size(kept) >= F.lit(min_lines)) \
        & ~F.col(text_col).contains("{")
    for w in bad_words:
        page_ok = page_ok & ~low.contains(w.lower())
    return df.select(
        "*",
        kept_text.alias(out_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_lines_kept"),
        page_ok.alias("c4_keep"),
    )


def c4_clean_sql(
    text_expr: str,
    min_words_per_line: int = 5,
    min_lines: int = 3,
    bad_words: Sequence[str] = _C4_DEFAULT_BAD_WORDS,
) -> dict:
    """DuckDB twins of :func:`c4_clean`, generated from the SAME
    constants: a dict with ``clean_text``, ``n_lines``, ``n_lines_kept``
    and ``c4_keep`` SQL expression strings over ``text_expr``."""
    term = " OR ".join(
        f"right(trim(x), 1) = '{p.replace(chr(39), chr(39) * 2)}'"
        for p in C4_TERMINAL_PUNCT
    )
    line_pred = (
        f"(({term}) AND len(string_split(regexp_replace(trim(x), '\\s+', ' ',"
        f" 'g'), ' ')) >= {min_words_per_line}"
        " AND NOT contains(lower(trim(x)), 'javascript'))"
    )
    kept = (f"list_filter(string_split({text_expr}, chr(10)), "
            f"x -> {line_pred})")
    bad = " AND ".join(
        "NOT contains(lower(" + text_expr + "), '"
        + w.lower().replace("'", "''") + "')"
        for w in bad_words
    )
    return {
        # coalesce: DuckDB's array_to_string of an empty list is NULL,
        # Spark's concat_ws is ''
        "clean_text": (f"coalesce(array_to_string(list_transform({kept},"
                       " x -> trim(x)), chr(10)), '')"),
        "n_lines": f"len(string_split({text_expr}, chr(10)))",
        "n_lines_kept": f"len({kept})",
        "c4_keep": (f"(len({kept}) >= {min_lines}"
                    f" AND NOT contains({text_expr}, '{{') AND {bad})"),
    }
