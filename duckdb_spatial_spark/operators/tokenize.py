"""BPE tokenization tier — vocabulary induction and tokenization at corpus
scale (the step between a cleaned corpus and example packing in an LLM
training-data pipeline). Classic byte-pair-encoding per Sennrich et al.
2016 (public algorithm).

Spark-first split of work (the same train/apply architecture as the IVF
ANN tier, operators/similarity.py):

- **word_frequencies / vocab induction** is the distributed part: one
  groupBy-count shuffle over the corpus, heavy-hitter truncation to a
  bounded word-frequency table. At 100 TB the top ~1M word forms carry
  ~99.9% of token mass, so the merge-training input is bounded regardless
  of corpus size.
- **train_bpe** runs the merge loop on that bounded table driver-side
  (O(merges × unique_words) with incremental pair counts — the same
  locality every production BPE trainer uses; a distributed pass per merge
  would be 10k barrier-synchronized shuffles for no added statistics).
- **apply_bpe** is embarrassingly parallel: merge ranks broadcast once,
  Arrow-batched pandas UDF tokenizes with a per-batch word→tokens memo
  (Zipf makes the memo hit rate ~95%+ on natural text).

No external deps; tokenizer state (merges) round-trips through a plain
DataFrame so it can be persisted as parquet like the IVF centroids.
"""
from __future__ import annotations

import math
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import local_relation

__all__ = [
    "word_frequencies", "train_bpe", "apply_bpe", "bpe_token_count",
    "bpe_doc_tokens_sql",
    "bpe_encode_word", "merges_to_df", "merges_from_df",
    "train_unigram", "apply_unigram",
]

_END = "</w>"  # Sennrich end-of-word marker


def normalized_words(text: Column) -> Column:
    """Lowercased whitespace words — the same normalization the dedup tier
    uses, shared here so vocab and corpus agree."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def word_frequencies(
    df: DataFrame,
    text_col: str,
    max_words: Optional[int] = 1_000_000,
) -> DataFrame:
    """Distributed word-frequency table (word, freq), heavy-hitter
    truncated to ``max_words`` by (freq DESC, word ASC) — deterministic.
    One explode + one groupBy shuffle; partial aggregation makes the
    shuffle O(unique words per partition), not O(tokens)."""
    w = (
        df.select(F.explode(normalized_words(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    if max_words is not None:
        # top-N by a total order — orderBy+limit lets Spark run a
        # TakeOrdered (per-partition heap + driver merge), no full sort
        w = w.orderBy(F.col("freq").desc(), F.col("word")).limit(max_words)
    return w


def _pair_counts(vocab: Dict[Tuple[str, ...], int]) -> Dict[Tuple[str, str], int]:
    counts: Dict[Tuple[str, str], int] = {}
    for sym, freq in vocab.items():
        for i in range(len(sym) - 1):
            p = (sym[i], sym[i + 1])
            counts[p] = counts.get(p, 0) + freq
    return counts


def _merge_word(sym: Tuple[str, ...], pair: Tuple[str, str]) -> Tuple[str, ...]:
    a, b = pair
    out: List[str] = []
    i = 0
    while i < len(sym):
        if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def train_bpe(
    word_freq: Iterable[Tuple[str, int]],
    num_merges: int = 1000,
) -> List[Tuple[str, str]]:
    """Classic BPE merge training over a (word, freq) table (the output of
    ``word_frequencies().collect()`` or any iterable). Ties on pair count
    break lexicographically — fully deterministic. Returns merges in rank
    order."""
    vocab: Dict[Tuple[str, ...], int] = {}
    for word, freq in word_freq:
        sym = tuple(word) + (_END,)
        vocab[sym] = vocab.get(sym, 0) + int(freq)
    merges: List[Tuple[str, str]] = []
    for _ in range(num_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        # deterministic argmax: highest count, then lexicographically
        # smallest pair
        best_pair, best_n = None, -1
        for p, n in counts.items():
            if n > best_n or (n == best_n and p < best_pair):
                best_pair, best_n = p, n
        if best_n < 2:  # nothing repeats — further merges are noise
            break
        merges.append(best_pair)
        vocab = {_merge_word(s, best_pair): f for s, f in vocab.items()}
    return merges


def bpe_encode_word(word: str, ranks: Dict[Tuple[str, str], int]) -> List[str]:
    """Tokenize one word with trained merge ranks (lowest rank first —
    the standard BPE apply loop)."""
    sym: List[str] = list(word) + [_END]
    while len(sym) > 1:
        best_rank, best_i = None, -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        merged = _merge_word(tuple(sym), (sym[best_i], sym[best_i + 1]))
        sym = list(merged)
    return sym


def merges_to_df(spark: SparkSession, merges: Sequence[Tuple[str, str]]) -> DataFrame:
    """Persistable tokenizer state: (rank, left, right)."""
    return local_relation(
        spark, [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string")


def merges_from_df(df: DataFrame) -> List[Tuple[str, str]]:
    return [(r.left, r.right)
            for r in df.orderBy("rank").collect()]


def apply_bpe(
    df: DataFrame,
    text_col: str,
    merges: Sequence[Tuple[str, str]],
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with trained merges: ranks broadcast once,
    Arrow-batched scalar pandas UDF, per-batch word→tokens memo (Zipf hit
    rates make the amortized cost ~O(chars)). Adds ``out_col``
    array<string>."""
    sc = df.sparkSession.sparkContext
    b_ranks = sc.broadcast({tuple(p): i for i, p in enumerate(merges)})

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(texts: pd.Series) -> pd.Series:
        ranks = b_ranks.value
        memo: Dict[str, List[str]] = {}
        out = []
        for t in texts:
            toks: List[str] = []
            for w in (t or "").lower().split():
                got = memo.get(w)
                if got is None:
                    got = bpe_encode_word(w, ranks)
                    memo[w] = got
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, _tok(F.col(text_col)))


def bpe_doc_tokens_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 200,
    max_words: int = 5000,
) -> str:
    """DuckDB twin of the whole BPE pipeline (train + apply), as one
    self-contained SQL string producing ``(doc_id, n_tokens, first_tok)``
    per input row. TRAINING is replayed with ``num_merges`` unrolled
    merge rounds (the q111/PageRank MATERIALIZED-CTE pattern — aggregates
    can't sit in a recursive CTE term, so fixed-iteration unrolling IS
    the SQL form): each round counts adjacent token pairs over the
    heavy-hitter-bounded word table, picks the (count DESC, pair ASC)
    argmax exactly like :func:`train_bpe`, and rewrites every distinct
    corpus word. APPLY replays merges in rank order, which equals
    :func:`bpe_encode_word`'s lowest-rank-first loop: a merge of rank r
    can never create a pair of rank < r, because the lower-rank pair's
    right/left tokens would themselves require an earlier merge.

    The greedy left-to-right single-pair rewrite is a ``list_reduce``
    with a string accumulator (tokens joined by chr(31), which never
    appears inside a token — tokens come from whitespace-split words):
    "last whole token == a AND current == b → append b to the
    accumulator" is exactly :func:`_merge_word`. Rounds after training
    has converged (best pair count < 2) produce an empty merge row and
    pass tokens through unchanged, mirroring the Python loop's break.
    """
    sep = "chr(31)"
    parts = [f"""__norm AS MATERIALIZED (
  SELECT {id_col} AS __id,
         list_filter(string_split_regex(trim(lower({text_col})), '\\s+'),
                     x -> x <> '') AS ws
  FROM {table}
), __wf AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(ws) AS w FROM __norm) GROUP BY 1
), __train AS MATERIALIZED (
  SELECT word FROM __wf ORDER BY freq DESC, word LIMIT {max_words}
), __t0 AS MATERIALIZED (
  SELECT __wf.word, __wf.freq, (t.word IS NOT NULL) AS in_train,
         list_append(list_transform(range(1, length(__wf.word) + 1),
                                    i -> substr(__wf.word, CAST(i AS INT), 1)),
                     '</w>') AS toks
  FROM __wf LEFT JOIN __train t USING (word)
)"""]
    for r in range(1, num_merges + 1):
        parts.append(f"""__m{r} AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT toks[CAST(i AS BIGINT)] AS a, toks[CAST(i AS BIGINT) + 1] AS b,
           sum(freq) AS n
    FROM (SELECT toks, freq, generate_subscripts(toks, 1) AS i
          FROM __t{r - 1} WHERE in_train)
    WHERE i < len(toks) GROUP BY 1, 2)
  WHERE n >= 2 ORDER BY n DESC, a, b LIMIT 1
), __t{r} AS MATERIALIZED (
  SELECT word, freq, in_train,
    CASE WHEN m.a IS NULL THEN toks
         ELSE string_split(
           list_reduce(toks, (acc, x) ->
             CASE WHEN x = m.b AND (acc = m.a OR ends_with(acc, {sep} || m.a))
                  THEN acc || m.b ELSE acc || {sep} || x END), {sep})
    END AS toks
  FROM __t{r - 1} LEFT JOIN __m{r} m ON true
)""")
    parts.append(f"""__dw AS (
  SELECT __id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos
  FROM __norm
), __per AS (
  SELECT __dw.__id, CAST(sum(len(tk.toks)) AS BIGINT) AS n_tokens,
         max(CASE WHEN __dw.pos = 1 THEN tk.toks[1] END) AS first_tok
  FROM __dw JOIN __t{num_merges} tk USING (word) GROUP BY 1
)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT n.__id AS {id_col},
       COALESCE(p.n_tokens, 0) AS n_tokens,
       p.first_tok
FROM __norm n LEFT JOIN __per p USING (__id)""")


def bpe_token_count(
    df: DataFrame,
    text_col: str,
    merges: Sequence[Tuple[str, str]],
    out_col: str = "n_tokens",
) -> DataFrame:
    """Token counts without materializing token arrays (the budget pass a
    packing/mixing stage needs)."""
    tok = apply_bpe(df, text_col, merges, out_col="__toks")
    return tok.withColumn(out_col, F.size("__toks")).drop("__toks")


# ---------------------------------------------------------------------------
# Unigram language-model tokenizer (Kudo 2018, the SentencePiece ULM
# algorithm — public method). Same train/apply split as BPE: training
# runs driver-side over the heavy-hitter-bounded word-frequency table
# (word_frequencies caps it), apply is a broadcast + Arrow-batched UDF.
# Simplifications vs the paper, stated so tests can pin them: hard-EM
# (Viterbi counts instead of forward-backward expectations) and
# count-rank pruning (instead of likelihood-loss ranking); both are
# standard lightweight variants and keep every step deterministic
# (ties break count desc, piece asc).
# ---------------------------------------------------------------------------

def _viterbi_segment(word: str, logp: Dict[str, float],
                     floor: float) -> List[str]:
    """Best segmentation of ``word`` under piece log-probs. A character
    absent from the piece table falls back to a single-char piece at the
    ``floor`` log-prob, so segmentation always succeeds (concat of the
    tokens reproduces the word exactly)."""
    n = len(word)
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    maxlen = max((len(p) for p in logp), default=1)
    for i in range(1, n + 1):
        for j in range(max(0, i - maxlen), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j != 1:
                    continue
                lp = floor
            cand = best[j] + lp
            if cand > best[i]:
                best[i] = cand
                back[i] = j
    out = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out


def train_unigram(
    word_freqs: Sequence[Tuple[str, int]],
    vocab_size: int = 1000,
    max_piece_len: int = 8,
    em_iters: int = 2,
    prune_rounds: int = 3,
    seed_factor: int = 4,
) -> Dict[str, float]:
    """Train a unigram tokenizer; returns {piece: log-prob}.

    Seed = every substring up to ``max_piece_len`` (freq-weighted counts),
    truncated to seed_factor×vocab_size multi-char pieces + ALL single
    characters (which are never pruned — they guarantee full coverage).
    Each round runs ``em_iters`` hard-EM sweeps (Viterbi re-segmentation
    → piece counts) and then prunes to a shrinking target, ending at
    ``vocab_size``.
    """
    from collections import Counter

    # ---- seed counts
    seed = Counter()
    chars = set()
    for w, f in word_freqs:
        chars.update(w)
        n = len(w)
        for i in range(n):
            for j in range(i + 1, min(n, i + max_piece_len) + 1):
                seed[w[i:j]] += f
    multi = sorted(
        ((p, c) for p, c in seed.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[: seed_factor * vocab_size]
    pieces = {p: float(c) for p, c in multi}
    for ch in chars:
        pieces[ch] = float(seed[ch])

    def to_logp(counts: Dict[str, float]) -> Dict[str, float]:
        total = sum(counts.values()) or 1.0
        return {p: math.log(c / total) for p, c in counts.items() if c > 0}

    targets = []
    cur = len(pieces)
    for r in range(prune_rounds):
        frac = (prune_rounds - 1 - r) / prune_rounds
        targets.append(max(vocab_size, int(vocab_size + frac * (cur - vocab_size))))
    targets[-1] = vocab_size

    counts = pieces
    for target in targets:
        for _ in range(em_iters):
            logp = to_logp(counts)
            floor = min(logp.values(), default=-10.0) - 10.0
            new = Counter()
            for w, f in word_freqs:
                for piece in _viterbi_segment(w, logp, floor):
                    new[piece] += f
            counts = {p: float(c) for p, c in new.items()}
            for ch in chars:           # coverage floor survives EM
                counts.setdefault(ch, 1e-9)
        keep_multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )[: max(0, target - len(chars))]
        counts = {p: c for p, c in keep_multi}
        for ch in chars:
            counts[ch] = max(counts.get(ch, 0.0), seed[ch] * 1e-9, 1e-9)
    return to_logp(counts)


def apply_unigram(
    df: DataFrame,
    text_col: str,
    logp: Dict[str, float],
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize with a trained unigram model: log-prob table broadcast
    once, Arrow-batched scalar pandas UDF, per-batch word→tokens memo —
    identical plan shape to :func:`apply_bpe`."""
    sc = df.sparkSession.sparkContext
    b_logp = sc.broadcast(dict(logp))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(texts: pd.Series) -> pd.Series:
        lp = b_logp.value
        floor = min(lp.values(), default=-10.0) - 10.0
        memo: Dict[str, List[str]] = {}
        out = []
        for t in texts:
            toks: List[str] = []
            for w in (t or "").lower().split():
                got = memo.get(w)
                if got is None:
                    got = _viterbi_segment(w, lp, floor)
                    memo[w] = got
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, _tok(F.col(text_col)))


# ---------------------------------------------------------------------------
# WordPiece (Schuster & Nakajima 2012; the BERT tokenizer — public method).
# Third member of the tokenizer trio next to BPE and unigram-LM, same
# train/apply split: training runs driver-side over the heavy-hitter-
# bounded word-frequency table, apply is a broadcast + Arrow-batched UDF.
# Differences vs BPE, stated so tests can pin them: merges are scored by
# the LIKELIHOOD gain count(ab)/(count(a)·count(b)) rather than raw pair
# count, and apply is vocabulary-driven greedy longest-match-first (it
# never replays merges). Continuation pieces carry the '##' prefix.
# ---------------------------------------------------------------------------

def _wp_sym(word: str) -> Tuple[str, ...]:
    return tuple([word[0]] + ["##" + c for c in word[1:]]) if word else ()


def _wp_join(a: str, b: str) -> str:
    return a + (b[2:] if b.startswith("##") else b)


def train_wordpiece(
    word_freq: Iterable[Tuple[str, int]],
    vocab_size: int = 1000,
    min_pair_freq: int = 2,
) -> List[str]:
    """WordPiece vocabulary: the character alphabet (word-initial chars +
    '##'-continuations) plus greedy merges maximizing
    ``count(ab) / (count(a) * count(b))``; ties break on higher pair
    count then lexicographically — fully deterministic. Returns the vocab
    sorted (a set for apply; order carries no meaning)."""
    vocab_words: Dict[Tuple[str, ...], int] = {}
    for word, freq in word_freq:
        if not word:
            continue
        sym = _wp_sym(word)
        vocab_words[sym] = vocab_words.get(sym, 0) + int(freq)
    pieces = set()
    for sym in vocab_words:
        pieces.update(sym)
    banned: set = set()
    while len(pieces) < vocab_size:
        pair_n: Dict[Tuple[str, str], int] = {}
        unit_n: Dict[str, int] = {}
        for sym, f in vocab_words.items():
            for s in sym:
                unit_n[s] = unit_n.get(s, 0) + f
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                pair_n[p] = pair_n.get(p, 0) + f
        best, best_key = None, None
        for p, n in pair_n.items():
            if n < min_pair_freq or p in banned:
                continue
            score = n / (unit_n[p[0]] * unit_n[p[1]])
            key = (score, n, (p[0], p[1]))
            # deterministic argmax: score, then count, then lexicographic
            # SMALLEST pair (so invert the pair in the comparison key)
            if best_key is None or (
                (key[0], key[1]) > (best_key[0], best_key[1])
                or ((key[0], key[1]) == (best_key[0], best_key[1])
                    and key[2] < best_key[2])
            ):
                best, best_key = p, key
        if best is None:
            break
        new_piece = _wp_join(best[0], best[1])
        if (not best[0].startswith("##")) and new_piece.startswith("##"):
            # a word containing literal '#' chars (markdown headings) can
            # merge into a WORD-INITIAL piece spelled '##…', colliding
            # with the continuation prefix and breaking the lossless
            # round-trip — ban the pair and pick the next best
            # (review finding; pair_n is rebuilt per round, so the ban
            # must persist across rounds or this would loop forever)
            banned.add(best)
            continue
        pieces.add(new_piece)

        def _merge(sym):
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(new_piece)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            return tuple(out)

        nv: Dict[Tuple[str, ...], int] = {}
        for sym, f in vocab_words.items():
            ns = _merge(sym)
            nv[ns] = nv.get(ns, 0) + f
        vocab_words = nv
    return sorted(pieces)


def wordpiece_encode_word(word: str, vocab: set) -> List[str]:
    """Greedy longest-match-first segmentation (the BERT apply loop).
    A character absent from the vocab falls back to its single-char
    piece, so segmentation always succeeds and concatenating the tokens
    (minus '##') reproduces the word exactly."""
    toks: List[str] = []
    i, n = 0, len(word)
    max_len = max((len(p) for p in vocab), default=1)
    while i < n:
        matched = None
        top = min(max_len, n - i)
        for L in range(top, 0, -1):
            piece = word[i:i + L]
            cand = piece if i == 0 else "##" + piece
            # a word-initial slice spelled '##…' must not hit a
            # CONTINUATION vocab entry of the same spelling
            if i == 0 and cand.startswith("##"):
                continue
            if cand in vocab:
                matched = (cand, L)
                break
        if matched is None:
            matched = (word[i] if i == 0 else "##" + word[i], 1)
        toks.append(matched[0])
        i += matched[1]
    return toks


def apply_wordpiece(
    df: DataFrame,
    text_col: str,
    vocab: Iterable[str],
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with a trained WordPiece vocab: vocab
    broadcast once, Arrow-batched scalar pandas UDF, per-batch word memo
    (same shape as apply_bpe). Adds ``out_col`` array<string>."""
    sc = df.sparkSession.sparkContext
    b_vocab = sc.broadcast(set(vocab))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(texts: pd.Series) -> pd.Series:
        v = b_vocab.value
        memo: Dict[str, List[str]] = {}
        out = []
        for t in texts:
            toks: List[str] = []
            for w in (t or "").lower().split():
                got = memo.get(w)
                if got is None:
                    got = wordpiece_encode_word(w, v)
                    memo[w] = got
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, _tok(F.col(text_col)))
