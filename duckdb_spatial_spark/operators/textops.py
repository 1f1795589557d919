"""Text-analysis operators for training-data pipelines — all pure column
expressions (JVM-side regex/array ops; no Python workers in any hot path).

Every function here is deliberately expressible in ANSI SQL too, so the
DuckDB oracle can verify it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def punct_ratio(text: Column) -> Column:
    puncts = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return puncts.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def digit_ratio(text: Column) -> Column:
    digits = F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", ""))
    return digits.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def mean_word_length(text: Column) -> Column:
    t = F.trim(text)
    n = token_count(text)
    chars = F.length(F.regexp_replace(t, r"\s+", ""))
    return chars.cast("double") / F.greatest(n, F.lit(1)).cast("double")


_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "are",
]


def _in_list(t: Column, words) -> Column:
    # Column.isin on a lambda variable mis-coerces in Spark 4; explicit OR chain
    cond = t == F.lit(words[0])
    for w in words[1:]:
        cond = cond | (t == F.lit(w))
    return cond


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are (lowercased) English
    stopwords — a classic fluency signal."""
    tokens = F.split(F.lower(F.trim(text)), r"\s+")
    hits = F.size(F.filter(tokens, lambda t: _in_list(t, _STOPWORDS)))
    return hits.cast("double") / F.greatest(F.size(tokens), F.lit(1)).cast("double")


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punct/digit noise
    + word-length plausibility + stopword presence. Deterministic col-expr;
    weights documented so the oracle can reproduce it."""
    n = F.length(text).cast("double")
    len_score = F.least(n / F.lit(200.0), F.lit(1.0)) * F.when(
        n > 10000, F.lit(0.5)
    ).otherwise(F.lit(1.0))
    noise = punct_ratio(text) + digit_ratio(text)
    noise_score = F.greatest(F.lit(0.0), F.lit(1.0) - noise * 2.0)
    mwl = mean_word_length(text)
    word_score = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    stop_score = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    return (len_score * 0.3 + noise_score * 0.3 + word_score * 0.2 + stop_score * 0.2)


_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "y", "es", "los"],
    "it": ["il", "la", "e", "che", "di"],
    "pt": ["o", "a", "e", "que", "de"],
}


def language_id(text: Column) -> Column:
    """Marker-stopword language guess (n-gram-free heuristic tier; see
    ``language_id_ngram`` for the trigram tier). Returns the language whose
    marker hit-count is highest, 'und' (undetermined) when all are zero. Ties
    break by language-code order — fully deterministic and SQL-reproducible.

    Single ``F.aggregate`` pass: the tokenizing regex split appears exactly
    once in the plan (a per-language ``size(filter(...))`` formulation
    re-evaluates the split for every language × use — ~18 regex scans of the
    full text per row)."""
    tokens = F.split(F.lower(F.trim(text)), r"\s+")
    langs = sorted(_LANG_MARKERS)
    acc0 = F.struct(*[F.lit(0).alias(lang) for lang in langs])

    def step(acc, t):
        return F.struct(*[
            (acc[lang] + _in_list(t, _LANG_MARKERS[lang]).cast("int")).alias(lang)
            for lang in langs
        ])

    def finish(acc):
        best = F.greatest(*[acc[lang] for lang in langs])
        expr = None
        for lang in langs:
            cond = (acc[lang] == best) & (best > 0)
            expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
        return expr.otherwise(F.lit("und"))

    return F.aggregate(tokens, acc0, step, finish)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: 64-bit hash of the whitespace-normalized,
    lowercased text (xxhash64 — fast JVM path)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(norm)


def fingerprint_md5(text: Column) -> Column:
    """Oracle-reproducible variant (md5 hex of normalized text)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)


def winnowing_fingerprints(text: Column, k: int = 8, window: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer et al.): hash all k-grams,
    keep the minimum in each sliding window, dedupe. array<string> col-expr."""
    n = F.length(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
        lambda i: F.md5(text.substr(i, F.lit(k))),
    )
    # Sliding-window min as element-wise least over `window` shifted
    # slices: `grams` is referenced linearly (window times), never inside
    # a transform lambda — a captured expression re-evaluates per element,
    # turning this O(chars²·md5) per row. zip_with pads the shorter tail
    # slice with NULLs and least() ignores them, which reproduces the
    # min-of-partial-window semantics at the array end.
    ng = F.size(grams)
    nwin = F.greatest(ng - F.lit(window - 1), F.lit(1))
    mins = F.slice(grams, 1, nwin)
    for off in range(1, window):
        shifted = F.slice(grams, 1 + off, nwin)
        mins = F.zip_with(mins, shifted, lambda a, b: F.least(a, b))
    return F.array_distinct(mins)


# ---------------------------------------------------------- n-gram lang-ID

_LANG_SAMPLES = {
    # tiny built-in corpora (public pangram-style text written for this
    # module); profiles derive from these at import — no external data
    "en": "the quick brown fox jumps over the lazy dog and then it runs "
          "back to the house where the children are playing with their "
          "friends in the garden of the old school this is what they said",
    "de": "der schnelle braune fuchs springt über den faulen hund und "
          "läuft dann zurück zum haus wo die kinder mit ihren freunden im "
          "garten der alten schule spielen das ist was sie gesagt haben",
    "fr": "le rapide renard brun saute par dessus le chien paresseux et "
          "retourne ensuite à la maison où les enfants jouent avec leurs "
          "amis dans le jardin de la vieille école c'est ce qu'ils ont dit",
    "es": "el rápido zorro marrón salta sobre el perro perezoso y luego "
          "vuelve a la casa donde los niños juegan con sus amigos en el "
          "jardín de la vieja escuela esto es lo que ellos dijeron",
    "it": "la veloce volpe marrone salta sopra il cane pigro e poi torna "
          "alla casa dove i bambini giocano con i loro amici nel giardino "
          "della vecchia scuola questo è quello che hanno detto",
    "pt": "a rápida raposa marrom pula sobre o cão preguiçoso e depois "
          "volta para a casa onde as crianças brincam com os seus amigos "
          "no jardim da velha escola isto é o que eles disseram",
}

_PROFILE_K = 120


def _trigram_ranks(text: str) -> dict:
    from collections import Counter

    t = " " + " ".join(text.lower().split()) + " "
    counts = Counter(t[i:i + 3] for i in range(len(t) - 2))
    top = [g for g, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))]
    return {g: r for r, g in enumerate(top[:_PROFILE_K])}


_LANG_PROFILES = {lang: _trigram_ranks(s) for lang, s in _LANG_SAMPLES.items()}


def language_id_ngram(text: Column) -> Column:
    """Character-trigram language ID (Cavnar–Trenkle out-of-place rank
    distance against built-in profiles) — the n-gram tier above the
    marker-stopword ``language_id``. Deterministic; ties break by language
    code; 'und' when the text yields no trigrams."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    import pandas as pd

    profiles = _LANG_PROFILES
    K = _PROFILE_K

    def _classify(s):
        out = []
        for txt in s:
            if txt is None or not txt.strip():
                out.append("und")
                continue
            doc = _trigram_ranks(txt)
            if not doc:
                out.append("und")
                continue
            best_lang, best_d = "und", None
            for lang in sorted(profiles):
                prof = profiles[lang]
                d = 0
                for g, r in doc.items():
                    pr = prof.get(g)
                    d += abs(pr - r) if pr is not None else K
                if best_d is None or d < best_d:
                    best_lang, best_d = lang, d
            out.append(best_lang)
        return pd.Series(out)

    f = pandas_udf(_classify, T.StringType(), PandasUDFType.SCALAR)
    return f(text)


# ---------------------------------------------------------------------------
# HTML → text extraction (web-corpus boilerplate stripping)
# ---------------------------------------------------------------------------
# The web-scale pipeline step between a WARC scan and the quality/dedup
# tiers: turn raw page markup into clean text. Pure regexp_replace chains —
# whole-stage-codegen JVM-side, no Python worker — and every pattern is
# RE2-compatible (no backreferences/lookarounds) so the DuckDB oracle runs
# the IDENTICAL chain and verifies bit-for-bit.

def escape_html(text: Column) -> Column:
    """Minimal HTML escape (&, <, > — ampersand first)."""
    out = F.replace(text, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    return F.replace(out, F.lit(">"), F.lit("&gt;"))


# (pattern, replacement) chain shared verbatim with the SQL oracle; order
# matters (entity unescape of &amp; must run LAST or "&amp;lt;" would
# double-decode).
HTML_TO_TEXT_STEPS = (
    (r"(?is)<script\b.*?</script\s*>", " "),
    (r"(?is)<style\b.*?</style\s*>", " "),
    (r"(?is)<title\b.*?</title\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]*>", " "),  # every remaining tag becomes a word boundary
)
HTML_ENTITY_STEPS = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_to_text(html: Column) -> Column:
    """Markup → whitespace-normalized text: drop script/style/comment
    blocks, replace every tag with a word boundary, decode the common
    entities, collapse whitespace runs, trim. Inverse of ``escape_html``
    composed with any tag template, which is how the WARC roundtrip query
    gets an exact oracle."""
    out = html
    for pat, repl in HTML_TO_TEXT_STEPS:
        out = F.regexp_replace(out, pat, repl)
    for ent, ch in HTML_ENTITY_STEPS:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_to_text_sql(expr: str) -> str:
    """The DuckDB-SQL replica of ``html_to_text`` over SQL expression
    ``expr`` — same patterns, same order (RE2 'g' global flag)."""
    out = expr
    for pat, repl in HTML_TO_TEXT_STEPS:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{repl}', 'g')"
    for ent, ch in HTML_ENTITY_STEPS:
        c = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{c}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def quality_score_sql(e: str) -> str:
    """DuckDB replica of ``quality_score`` — identical arithmetic and
    evaluation order so the composite double matches bit-for-bit."""
    t = f"trim({e})"
    tok = (f"(CASE WHEN length({t}) = 0 THEN 0 "
           f"ELSE len(string_split_regex({t}, '\\s+')) END)")
    len_s = (f"(least(CAST(length({e}) AS DOUBLE) / 200.0, 1.0) * "
             f"(CASE WHEN CAST(length({e}) AS DOUBLE) > 10000 "
             f"THEN 0.5 ELSE 1.0 END))")
    punct = (f"(CAST(length({e}) - length(regexp_replace({e}, "
             f"'[^\\w\\s]', '', 'g')) AS DOUBLE) "
             f"/ CAST(greatest(length({e}), 1) AS DOUBLE))")
    digit = (f"(CAST(length({e}) - length(regexp_replace({e}, "
             f"'[0-9]', '', 'g')) AS DOUBLE) "
             f"/ CAST(greatest(length({e}), 1) AS DOUBLE))")
    noise_s = f"greatest(0.0, 1.0 - ({punct} + {digit}) * 2.0)"
    mwl = (f"(CAST(length(regexp_replace({t}, '\\s+', '', 'g')) AS DOUBLE) "
           f"/ CAST(greatest({tok}, 1) AS DOUBLE))")
    word_s = (f"(CASE WHEN {mwl} >= 3.0 AND {mwl} <= 10.0 "
              f"THEN 1.0 ELSE 0.5 END)")
    stops = ", ".join(f"'{w}'" for w in _STOPWORDS)
    toks = f"string_split_regex(lower({t}), '\\s+')"
    stop_ratio = (f"(CAST(len(list_filter({toks}, x -> x IN ({stops}))) "
                  f"AS DOUBLE) / CAST(greatest(len({toks}), 1) AS DOUBLE))")
    stop_s = f"least({stop_ratio} * 4.0, 1.0)"
    return (f"({len_s} * 0.3 + {noise_s} * 0.3 + {word_s} * 0.2 "
            f"+ {stop_s} * 0.2)")


# sentence segmentation — RE2-safe (no lookbehind: both engines extract
# maximal "body + trailing terminators" runs), shared with the SQL twin
_SENT_PATTERN = r"[^.!?]+[.!?]*"


def split_sentences(text: Column) -> Column:
    """array<string> of trimmed sentences: runs of non-terminator chars
    plus their trailing [.!?]+, empties dropped. The segmentation step
    ahead of per-sentence dedup/quality passes."""
    parts = F.regexp_extract_all(text, F.lit(_SENT_PATTERN), 0)
    # explicit unary lambda: F.trim is binary (col, trimStr) in Spark 4,
    # so passing it bare makes transform bind (element, INDEX) to it
    return F.filter(F.transform(parts, lambda s: F.trim(s)),
                    lambda s: s != "")


def split_sentences_sql(e: str) -> str:
    """DuckDB twin of ``split_sentences`` (same pattern constant)."""
    return (f"list_filter(list_transform(regexp_extract_all({e}, "
            f"'{_SENT_PATTERN}'), x -> trim(x)), x -> x <> '')")


# ---------------------------------------------------------------------------
# Unicode text cleaning (corpus normalization ahead of dedup/tokenization)
# ---------------------------------------------------------------------------
# Controls except \t\n\r, plus DEL; and the zero-width/BOM format chars —
# RE2-compatible classes shared with the SQL twin.
_CTRL_PATTERN = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
_ZW_PATTERN = "[​‌‍﻿]"


def clean_text(text: Column, nfc: bool = True) -> Column:
    """Corpus text normalization: strip control characters (keeping
    tab/newline/CR) and zero-width/format characters — pure codegen
    regexp — then NFC-normalize (``nfc=True``; Arrow-batched pandas UDF,
    the one step Spark has no builtin for). Canonicalizing before
    fingerprint/minhash makes visually-identical docs hash identically."""
    out = F.regexp_replace(text, _CTRL_PATTERN, "")
    out = F.regexp_replace(out, _ZW_PATTERN, "")
    if not nfc:
        return out
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _nfc(s):
        import unicodedata

        return s.map(lambda t: unicodedata.normalize("NFC", t)
                     if t is not None else None)

    return _nfc(out)


def clean_text_sql(e: str, nfc: bool = True) -> str:
    """DuckDB twin of ``clean_text`` (same pattern constants;
    nfc_normalize implements the same Unicode standard — parity-tested)."""
    out = f"regexp_replace({e}, '{_CTRL_PATTERN}', '', 'g')"
    out = f"regexp_replace({out}, '{_ZW_PATTERN}', '', 'g')"
    return f"nfc_normalize({out})" if nfc else out


# ---------------------------------------------------------------------------
# corpus drift: divergence between word distributions
# ---------------------------------------------------------------------------

def corpus_divergence(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    add_k: float = 0.5,
    vocab_limit: int = 50_000,
) -> DataFrame:
    """Distribution drift between two corpora: add-k-smoothed unigram
    KL(A‖B), KL(B‖A) and Jensen-Shannon divergence over the shared
    heavy-hitter vocabulary — the snapshot-to-snapshot monitoring metric
    a training-data pipeline runs next to :func:`~.pipeline.corpus_diff`
    (which compares documents; this compares the *language*).

    Scale shape: one word-count aggregation per corpus (map-side
    combined), vocabulary capped at the ``vocab_limit`` globally most
    frequent words (a bounded TakeOrdered, so the joined distribution
    table is vocabulary-sized regardless of corpus size), then the
    divergences are single-pass aggregates over that bounded table.
    Smoothing puts ``add_k`` pseudo-count on every vocab word in both
    corpora, so the support matches and KL is finite.  All arithmetic is
    plain sums/logs over identical doubles — ANSI-SQL-replayable.

    Returns one row: (vocab_size, n_a, n_b, kl_ab, kl_ba, js).
    """
    def counts(df):
        return (
            df.select(F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
                .alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").cast("long").alias("n"))
        )

    ca, cb = counts(a), counts(b)
    merged = (
        ca.withColumnRenamed("n", "na")
        .join(cb.withColumnRenamed("n", "nb"), "word", "full_outer")
        .select(
            "word",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
    )
    vocab = (
        merged.orderBy(F.desc(F.col("na") + F.col("nb")), F.asc("word"))
        .limit(vocab_limit)
    )
    tot = vocab.agg(
        F.sum("na").cast("long").alias("ta"),
        F.sum("nb").cast("long").alias("tb"),
        F.count("*").cast("long").alias("v"),
    ).collect()[0]
    ta, tb, v = int(tot["ta"]), int(tot["tb"]), int(tot["v"])
    pa = (F.col("na") + F.lit(add_k)) / F.lit(ta + add_k * v)
    pb = (F.col("nb") + F.lit(add_k)) / F.lit(tb + add_k * v)
    pm = (pa + pb) / F.lit(2.0)
    agg = vocab.agg(
        F.sum(pa * F.log(pa / pb)).alias("kl_ab"),
        F.sum(pb * F.log(pb / pa)).alias("kl_ba"),
        (F.lit(0.5) * F.sum(pa * F.log(pa / pm))
         + F.lit(0.5) * F.sum(pb * F.log(pb / pm))).alias("js"),
    )
    return agg.select(
        F.lit(v).cast("long").alias("vocab_size"),
        F.lit(ta).cast("long").alias("n_a"),
        F.lit(tb).cast("long").alias("n_b"),
        "kl_ab", "kl_ba", "js",
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the
    classic corpus-linguistics signal ("hash join" scores high because
    the pair is far more frequent than its parts predict; a stopword
    bigram scores ~0). Formula, stated so the SQL twin can't drift:

        pmi = ln( (c_ab / N2) / ((c_a / N1) * (c_b / N1)) )

    with token-instance counts: c_ab adjacent-pair occurrences, N2
    total pairs, c_* unigram occurrences, N1 total tokens.

    Output: (pair, c_ab, pmi) — pairs with c_ab ≥ ``min_count``,
    ordered by (rounded pmi DESC, pair), limited to ``k``.

    Scale: one pair explode + one word explode of the corpus, two
    map-side-combined count aggregates, the unigram table joined twice
    on the word (no broadcast hint — vocabulary is unbounded at web
    scale), scalar totals broadcast. Pure codegen; nothing leaves the
    JVM.
    """
    from pyspark.sql import functions as F

    from .pipeline import normalized_words

    words = df.select(
        F.filter(normalized_words(F.col(text_col)),
                 lambda w: w != "").alias("__w"))
    pair_arr = F.transform(
        # sequence(start, stop) steps DOWN when start > stop, so an
        # unguarded size-1 doc would yield [1, 0] and element_at(…, 0)
        # throws. The size >= 2 row-filter below keeps stop >= 1, and
        # greatest(…, 1) makes the expression safe even if reused
        # unfiltered.
        F.sequence(F.lit(1), F.greatest(F.size("__w") - 1, F.lit(1))),
        lambda i: F.struct(F.element_at("__w", i).alias("a"),
                           F.element_at("__w", i + 1).alias("b")),
    )
    pairs = (words.filter(F.size("__w") >= 2)
             .select(F.explode(pair_arr).alias("p"))
             .select(F.col("p.a").alias("a"), F.col("p.b").alias("b")))
    c2 = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab"))
    uni = (words.select(F.explode("__w").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c")))
    n1 = uni.agg(F.sum("c").cast("long").alias("n1"))
    n2 = c2.agg(F.sum("c_ab").cast("long").alias("n2"))
    scored = (
        c2.filter(F.col("c_ab") >= min_count)
        .join(uni.withColumnRenamed("w", "a")
                 .withColumnRenamed("c", "c_a"), "a")
        .join(uni.withColumnRenamed("w", "b")
                 .withColumnRenamed("c", "c_b"), "b")
        .crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2))
        .select(
            F.concat_ws(" ", "a", "b").alias("pair"),
            F.col("c_ab"),
            # + 0.0 normalizes IEEE -0.0 (signed-zero class: a PMI of
            # exactly ~0 rounds to a sign the engines disagree on)
            (F.round(F.log(
                (F.col("c_ab").cast("double") / F.col("n2"))
                / ((F.col("c_a").cast("double") / F.col("n1"))
                   * (F.col("c_b").cast("double") / F.col("n1")))), 6)
             + F.lit(0.0)).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("pair")).limit(k)


def char_entropy_per_doc(df, id_col: str = "doc_id",
                        text_col: str = "text",
                        carry_cols=()) -> "DataFrame":
    """Per-document character-level Shannon entropy (nats) — the classic
    gibberish/boilerplate quality signal (low entropy = runs and
    repeats; abnormally high = random noise):

        H = -Σ_c (n_c / L) · ln(n_c / L),   L = length(text)

    Relational one-pass shape (NOT an array-side scalar: a per-distinct-
    char filter over a captured char array re-evaluates the split per
    element — the ngrams_of_words O(L²) trap): explode the chars, one
    partial-aggregated (doc, char) count shuffle, then a per-doc sum.
    Empty documents score 0.0 via the explode of split('', '') = ['']
    (one char, p=1, H=0) — identical in DuckDB, so the SQL twin
    (:func:`char_entropy_sql`) is hash-exact.
    """
    from pyspark.sql import functions as F

    carry = list(carry_cols)
    chars = df.select(
        F.col(id_col), *carry,
        F.explode(F.split(F.col(text_col), "")).alias("__c"))
    counts = chars.groupBy(id_col, *carry, "__c").agg(
        F.count(F.lit(1)).cast("double").alias("__n"))
    return (
        counts.groupBy(id_col, *carry)
        .agg(
            F.sum("__n").cast("long").alias("n_chars_split"),
            (-F.sum(F.col("__n") * F.log(F.col("__n")))).alias("__snl"),
        )
        .select(
            id_col, *carry,
            F.when(
                F.col("n_chars_split") > 1,
                F.col("__snl") / F.col("n_chars_split")
                + F.log(F.col("n_chars_split").cast("double")),
            ).otherwise(F.lit(0.0)).alias("entropy"),
        )
    )


def char_entropy_sql(table: str, id_col: str = "doc_id",
                     text_col: str = "text", carry: str = "") -> str:
    """DuckDB twin of :func:`char_entropy_per_doc` — same decomposition
    H = ln L − (Σ n ln n)/L so the float op order matches."""
    carry_sel = f", {carry}" if carry else ""
    return f"""
        SELECT {id_col}{carry_sel},
               CASE WHEN n_chars_split > 1
                    THEN __snl / n_chars_split
                         + ln(CAST(n_chars_split AS DOUBLE))
                    ELSE 0.0 END AS entropy
        FROM (
          SELECT {id_col}{carry_sel},
                 CAST(sum(__n) AS BIGINT) AS n_chars_split,
                 -sum(__n * ln(__n)) AS __snl
          FROM (
            SELECT {id_col}{carry_sel}, c,
                   CAST(count(*) AS DOUBLE) AS __n
            FROM (SELECT {id_col}{carry_sel},
                         unnest(string_split({text_col}, '')) AS c
                  FROM {table})
            GROUP BY ALL
          ) GROUP BY ALL
        )
    """
