"""Deduplication operators for large-scale training-data pipelines.

All-built-in Spark column expressions where possible (JVM-side, shuffle-
only-when-needed), so every path here scales to the 100-TB posture:

* exact dedup: hash-groupBy on the key, keep min id (one shuffle).
* MinHash + LSH: shingle → per-seed min-hash → band → equi-join on
  (band, key) buckets → verified Jaccard. The only shuffles are the bucket
  join and the pair dedup.
* SimHash: md5-digit-parity bit signature (deterministic, reproducible in
  plain SQL for the DuckDB oracle) + hamming-style candidate pairing.
* n-gram Jaccard: inverted-index equi-join on shingles (no cross product).

Hash choice: ``md5`` (default) is reproducible in any engine (oracle
parity); ``xxhash64`` is the faster production path — same topology.
"""

from __future__ import annotations

import math
from typing import List, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..runtime import probe_arrow
from ..sources.tables import local_relation


def exact_dedup(df: DataFrame, key_cols: List[str], id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per duplicate group.

    ONE shuffle, no join-back: the whole surviving row rides inside a
    ``min(struct(id, rest...))`` aggregate (struct comparison is
    field-order lexicographic, and ``id_col`` leads, so the min struct is
    the min-id row). Map-side partial aggregation halves what crosses the
    wire vs the groupBy+self-join formulation — the difference between one
    and two full-corpus shuffles at 100 TB.
    """
    rest = [c for c in df.columns if c not in key_cols and c != id_col]
    packed = df.groupBy(*key_cols).agg(
        F.min(F.struct(id_col, *rest)).alias("_keep")
    )
    flat = packed.select(*key_cols, "_keep.*")
    return flat.select(*df.columns)


def shingles(text: Column, k: int = 5) -> Column:
    """Distinct character k-grams as array<string> — pure col-expr."""
    n = F.length(text)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
            lambda i: text.substr(i, F.lit(k)),
        )
    )


def _hash_expr(seed: int, s: Column, fn: str) -> Column:
    if fn == "md5":
        return F.md5(F.concat(F.lit(f"{seed}|"), s))
    if fn == "xxhash64":
        return F.xxhash64(F.lit(seed), s).cast("string")
    raise ValueError(fn)


def minhash_signature(text: Column, num_hashes: int = 16, k: int = 5,
                      hash_fn: str = "md5") -> Column:
    """array<string> of per-seed minimum shingle hashes. Seeded hash family
    = hash(seed || shingle); min is lexicographic (deterministic across
    engines).

    NOTE: as a pure column expression Catalyst re-derives the shingle array
    per seed (num_hashes higher-order scans of the text). Fine for ad-hoc
    use; the hot path is :func:`minhash_table`, which explodes shingles
    ONCE and takes all mins in a single hash aggregate.
    """
    sh = shingles(text, k)

    # NB: the transform lambda must be unary — pyspark binds a second
    # parameter to the array index, which would shadow the seed.
    def _minhash(seed: int) -> Column:
        return F.array_min(F.transform(sh, lambda x: _hash_expr(seed, x, hash_fn)))

    return F.array(*[_minhash(s) for s in range(num_hashes)])


def minhash_table(df: DataFrame, id_col: str, text_col: str,
                  num_hashes: int = 16, k: int = 5, hash_fn: str = "md5",
                  prefix: str = "mh") -> DataFrame:
    """MinHash signature as columns ``mh0..mh{n-1}`` via explode + ONE hash
    aggregate: the shingle array is materialized once per document (the
    Column form re-evaluates it per seed), every seed's min is a plain
    min-aggregate with map-side partial aggregation, and there are no
    higher-order functions in the plan — the codegen-stable, 100-TB shape.
    Shuffles once on ``id_col``."""
    ex = df.select(
        F.col(id_col).alias("__mhid"),
        F.explode(shingles(F.col(text_col), k)).alias("__sh"),
    )
    aggs = [
        F.min(_hash_expr(s, F.col("__sh"), hash_fn)).alias(f"{prefix}{s}")
        for s in range(num_hashes)
    ]
    return ex.groupBy("__mhid").agg(*aggs).withColumnRenamed("__mhid", id_col)


def minhash_band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, key:string>> for LSH bucketing."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.concat_ws("_", F.slice(sig, b * rows_per_band + 1, rows_per_band)).alias("key"),
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    hash_fn: str = "md5",
    bucket_cap: Optional[int] = 512,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) that share ≥1 LSH band bucket.
    Equi-join on (band,key) — a real shuffle join, no cross product.

    ``bucket_cap`` is the hot-bucket guard: a bucket with n members emits
    n·(n−1)/2 pairs, so boilerplate-heavy corpora (the common case at
    100 TB — every member of a big bucket is a near-copy of every other)
    make the self-join QUADRATIC in the duplicate multiplicity. Buckets
    larger than the cap therefore emit a **star** (each member paired with
    the bucket's min id, n−1 pairs) instead of all pairs — connectivity-
    equivalent for the downstream connected-components/cluster step, which
    is what LSH candidates feed, at linear cost. Measured by
    scripts/scale_probe.py: a 10× corpus with 10× duplicate multiplicity
    went 19.8× without the cap, ~linear with it. Set ``bucket_cap=None``
    for the exact all-pairs graph."""
    r = num_hashes // bands
    sig = minhash_table(df, id_col, text_col, num_hashes, k, hash_fn).select(
        F.col(id_col).alias("__id"),
        *[F.col(f"mh{s}") for s in range(num_hashes)],
    )
    band_structs = F.array(*[
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.concat_ws(
                "_", *[F.col(f"mh{b * r + i}") for i in range(r)]
            ).alias("key"),
        )
        for b in range(bands)
    ])
    bucketed = sig.select(
        "__id", F.explode(band_structs).alias("b")
    ).select("__id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    return _bucket_pairs(bucketed, bucket_cap)


def _bucket_pairs(bucketed: DataFrame, bucket_cap: Optional[int]) -> DataFrame:
    """(id_a < id_b) pairs sharing a (band, key) bucket. With a cap, one
    aggregation over the same shuffle key splits buckets by size: small
    buckets self-join all-pairs, buckets above the cap emit a star to the
    bucket min — connectivity-equivalent for downstream clustering at
    linear (not quadratic) cost in the bucket size."""
    if bucket_cap is not None:
        stats = bucketed.groupBy("band", "key").agg(
            F.count("*").alias("__n"), F.min("__id").alias("__minid"))
        tagged = bucketed.join(stats, on=["band", "key"])
        small = tagged.filter(F.col("__n") <= bucket_cap) \
            .select("__id", "band", "key")
        a = small.alias("a")
        b = small.alias("b")
        pairs_small = (
            a.join(b, on=["band", "key"])
            .filter(F.col("a.__id") < F.col("b.__id"))
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        )
        pairs_hot = (
            tagged.filter((F.col("__n") > bucket_cap)
                          & (F.col("__id") != F.col("__minid")))
            .select(F.col("__minid").alias("id_a"), F.col("__id").alias("id_b"))
        )
        return pairs_small.union(pairs_hot).distinct()
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; broadcast-friendly when
    pair count is small, shuffle join otherwise."""
    sh = df.select(F.col(id_col).alias("__jid"), shingles(F.col(text_col), k).alias("__sh"))
    j = (
        pairs.join(sh.withColumnRenamed("__jid", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("__jid", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        j.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    hash_fn: str = "md5",
    bucket_cap: Optional[int] = None,
) -> DataFrame:
    """Remove near-duplicates: a row is dropped when a verified-similar row
    with a smaller id exists (standard keep-first policy).

    ``bucket_cap`` defaults to **None** (exact all-pairs candidates) here,
    unlike :func:`minhash_lsh_candidates`: the keep-first drop acts on
    verified pairs directly, with no connected-components step, so the
    capped star approximation is NOT connectivity-safe in this operator —
    two members of an over-cap bucket that are near-dups of each other but
    not of the bucket-min representative would silently survive. Set a cap
    only if that recall trade is acceptable; for capped dedup with correct
    cluster semantics use :func:`dedup_pipeline`, whose exact-collapse
    first pass keeps duplicate multiplicity away from the LSH join and
    whose connected-components step makes the star guard safe."""
    cand = minhash_lsh_candidates(df, id_col, text_col, num_hashes, bands, k,
                                  hash_fn, bucket_cap=bucket_cap)
    dup = jaccard_verify(cand, df, id_col, text_col, k, threshold)
    losers = dup.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def ngram_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = True,
    collapse_identical: bool = False,
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ threshold via inverted-index equi-join on
    shingles, with **prefix filtering** (ppjoin-style): order each doc's
    shingles by ascending global document frequency (rarest first) and join
    only on the first ``n − ⌈t·n⌉ + 1`` of them — if J(A,B) ≥ t the
    prefixes must share a shingle, so candidates are complete, and the join
    never fans out on hot shingles (the 100-TB skew killer). Candidates are
    then verified exactly with one array_intersect against the full shingle
    sets. ``prefix_filter=False`` keeps the plain inverted-index plan.

    ``collapse_identical=True`` is the duplicate-multiplicity guard: a
    corpus where a text occurs m times contributes m(m−1)/2 jaccard-1.0
    pairs, so the OUTPUT itself is quadratic in multiplicity (prefix
    filtering cannot help — identical texts share every prefix). With the
    flag on, identical texts collapse to their min-id representative
    first (one md5 groupBy), the similarity join runs on distinct texts
    only, and each duplicate group adds an m−1-pair identity star —
    connectivity-equivalent for dedup clustering at linear cost
    (scripts/scale_probe.py: the off/on difference at 10× multiplicity)."""
    if collapse_identical:
        fp = df.select(F.col(id_col), F.col(text_col),
                       F.md5(F.col(text_col)).alias("__fp"))
        reps = fp.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
        tagged = fp.join(reps, "__fp")
        stars = tagged.filter(F.col(id_col) != F.col("__rep")).select(
            F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"),
            F.lit(1.0).alias("jaccard"))
        distinct_docs = tagged.filter(F.col(id_col) == F.col("__rep")) \
            .select(id_col, text_col)
        rep_pairs = ngram_jaccard_join(
            distinct_docs, id_col, text_col, k, threshold, prefix_filter,
            collapse_identical=False)
        return rep_pairs.unionByName(stars)
    sh = df.select(F.col(id_col).alias("__id"), shingles(F.col(text_col), k).alias("__sh"))
    sizes = sh.select("__id", F.size("__sh").alias("__n"))
    inv = sh.select("__id", F.explode("__sh").alias("sh"))

    if prefix_filter:
        from pyspark.sql import Window

        # candidate-generation key = xxhash64 of the shingle: an int64
        # shuffle key is a fraction of the string's width at 100 TB, and a
        # hash collision can only ADD a candidate pair — the exact
        # array_intersect verification below removes it (the
        # prefix_filter=False path keeps string keys since its jaccard
        # comes straight from join counts)
        inv = inv.select("__id", F.xxhash64("sh").alias("sh"))

        freq = inv.groupBy("sh").agg(F.count("*").alias("__df"))
        w = Window.partitionBy("__id").orderBy("__df", "sh")
        ranked = (
            inv.join(freq, "sh")
            .withColumn("__rn", F.row_number().over(w))
            .withColumn("__n", F.count("*").over(Window.partitionBy("__id")))
        )
        prefix = ranked.filter(
            F.col("__rn") <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
        ).select("__id", "sh", "__rn", "__n")
        a = prefix.alias("a")
        b = prefix.alias("b")
        # ppjoin POSITIONAL filter (Xiao et al.): both docs' shingle lists
        # are sorted by the same global (df, sh) key, so the globally
        # smallest matched prefix token attains the min rank in BOTH docs
        # simultaneously, and overlap ≤ 1 + min(n_a − ia, n_b − jb) with
        # (ia, jb) those min ranks. J ≥ t needs overlap ≥
        # ⌈t/(1+t)·(n_a+n_b)⌉, so most homogeneous-corpus candidates die
        # here as integer arithmetic — BEFORE the array-payload
        # verification join (measured: 412k candidates → the filter is
        # what keeps verification from dominating the whole join).
        cand = (
            a.join(b, on="sh")
            .filter(F.col("a.__id") < F.col("b.__id"))
            .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .agg(F.min("a.__rn").alias("__ia"), F.min("b.__rn").alias("__jb"),
                 F.min("a.__n").alias("__na"), F.min("b.__n").alias("__nb"))
            .filter(
                1 + F.least(F.col("__na") - F.col("__ia"),
                            F.col("__nb") - F.col("__jb"))
                >= F.ceil(F.lit(threshold) / (1.0 + threshold)
                          * (F.col("__na") + F.col("__nb")) - F.lit(1e-9))
            )
            .select("id_a", "id_b")
        )
        sa = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sa"))
        sb = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sb"))
        out = (
            cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn("shared", F.size(F.array_intersect("__sa", "__sb")))
            .withColumn(
                "jaccard",
                F.col("shared").cast("double")
                / (F.size("__sa") + F.size("__sb") - F.col("shared")).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
        return out

    a = inv.alias("a")
    b = inv.alias("b")
    shared = (
        a.join(b, on="sh")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    na = sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("__n", "n_a")
    nb = sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("__n", "n_b")
    out = (
        shared.join(F.broadcast(na), "id_a").join(F.broadcast(nb), "id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# hex digit → ascii parity ('0'..'9' ascii 48..57, 'a'..'f' ascii 97..102);
# shared with the DuckDB oracle's ascii(substring(h,j,1)) % 2 semantics
_HEX = "0123456789abcdef"
_HEX_PARITY = "0101010101101010"


def simhash(text: Column, bits: int = 16) -> Column:
    """SimHash fingerprint as a LONG, built from md5-hex-digit parities of
    whitespace tokens — fully deterministic and expressible in ANSI SQL for
    the oracle. bit_j weight = sign(sum over tokens of parity(md5(tok)[j])).

    The per-token decode is ONE md5 + translate + conv: the parity of every
    hex digit is looked up via ``translate`` into a '0'/'1' string, which
    *is* the binary expansion of a ≤``bits``-bit integer — so the whole
    per-token contribution is a single small int, and the per-bit ±1 sums
    are integer shift/mask arithmetic. (The previous form expanded 16
    ``ascii(substring(...))`` branches per token; the generated code
    collapsed under JVM code-cache pressure late in long runs. For the hot
    DataFrame path use :func:`simhash_table`, which has no higher-order
    functions at all.)"""
    tokens = F.split(F.trim(text), r"\s+")
    # reverse → char for hex digit 1 (bit 0) becomes the LSB of conv()
    vals = F.transform(
        tokens,
        lambda t: F.conv(
            F.reverse(F.translate(F.substring(F.md5(t), 1, bits), _HEX, _HEX_PARITY)),
            2, 10,
        ).cast("int"),
    )
    masks = F.array(*[F.lit(1 << j) for j in range(bits)])
    sums = F.aggregate(
        vals,
        F.array_repeat(F.lit(0), bits),
        lambda acc, v: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(v.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    weighted = F.zip_with(
        sums, masks,
        lambda s, m: F.when(s > 0, m.cast("long")).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(weighted, F.lit(0).cast("long"), lambda a, b: a + b)


def simhash_table(df: DataFrame, id_col: str, text_col: str,
                  bits: int = 16, out_col: str = "simhash") -> DataFrame:
    """Per-row SimHash as a DataFrame transform: explode tokens, one
    md5 + translate per token, then ``bits`` conditional sums in ONE hash
    aggregate.  No higher-order functions anywhere in the plan, so
    whole-stage codegen stays small and stable, and the aggregate runs
    map-side partial before the single shuffle on ``id_col`` — the shape
    that survives 100 TB.  bit_j = 1 iff strictly more tokens have odd
    ascii(md5[j]) than even (same semantics as :func:`simhash`)."""
    tok = df.select(
        F.col(id_col).alias("__shid"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__t"),
    )
    par = tok.select(
        "__shid",
        F.translate(F.substring(F.md5("__t"), 1, bits), _HEX, _HEX_PARITY).alias("__p"),
    )
    aggs = [F.count("*").alias("__n")] + [
        F.sum(F.substring("__p", j + 1, 1).cast("int")).alias(f"__s{j}")
        for j in range(bits)
    ]
    g = par.groupBy("__shid").agg(*aggs)
    fp = F.lit(0)
    for j in range(bits):
        # b_j = 2·s_j − n  >  0  ⇔  2·s_j > n
        fp = fp + F.when(
            2 * F.col(f"__s{j}") > F.col("__n"), F.lit(1 << j)
        ).otherwise(F.lit(0))
    return g.select(
        F.col("__shid").alias(id_col), fp.cast("long").alias(out_col)
    )


def simhash_candidates(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16, bands: int = 4,
    bucket_cap: Optional[int] = 512,
) -> DataFrame:
    """Near-dup candidates = equal simhash band (bits/bands bits per band).
    ``bucket_cap`` guards hot bands like minhash_lsh_candidates: identical
    texts share every band, so duplicate multiplicity makes the bucket
    self-join quadratic; oversized buckets emit a connectivity-equivalent
    star instead (None = exact all-pairs graph)."""
    sig = simhash_table(df, id_col, text_col, bits).select(
        F.col(id_col).alias("__id"), F.col("simhash").alias("__sh")
    )
    return _bucket_pairs(_band_buckets(sig, bits, bands), bucket_cap)


def _band_buckets(sig: DataFrame, bits: int, bands: int) -> DataFrame:
    """(__id, band, key) rows from a (__id, __sh) integer-signature frame
    — the shared banding step of simhash_candidates and
    hamming_neardup_pairs. Keys come from shift-then-mask: a direct
    ``((1<<width)-1) << (b*width)`` mask overflows a signed-long literal
    for the top band at bits=64."""
    width = bits // bands
    parts = []
    for b in range(bands):
        key = F.shiftrightunsigned(F.col("__sh").cast("long"), b * width) \
            .bitwiseAND(F.lit((1 << width) - 1))
        parts.append(sig.select(
            "__id", F.lit(b).alias("band"), key.alias("key")))
    bucketed = parts[0]
    for p in parts[1:]:
        bucketed = bucketed.union(p)
    return bucketed


def _local_union_find(pdf_iter, src_name: str, dst_name: str):
    """Union-find over the edges of ONE partition; yields the contracted
    star mapping (node → partition-local min root), one row per distinct
    node seen. Pure per-partition work — no shuffle, no driver state."""
    import pandas as pd

    parent: dict = {}
    seen: set = set()

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for pdf in pdf_iter:
        for a, b in zip(pdf[src_name].tolist(), pdf[dst_name].tolist()):
            seen.add(a)
            seen.add(b)
            if a == b:
                continue
            ra, rb = find(a), find(b)
            if ra == rb:
                continue
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    if seen:
        nodes = sorted(seen)
        yield pd.DataFrame({src_name: nodes, dst_name: [find(n) for n in nodes]})


def connected_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    nodes: Optional[DataFrame] = None,
    id_col: str = "id",
    max_iter: int = 25,
    driver_node_limit: Optional[int] = None,
) -> DataFrame:
    """Candidate pairs → duplicate clusters: (node, comp) where ``comp``
    is the smallest member id of the node's connected component.

    This is the step LLM dedup pipelines run after LSH/simhash candidate
    generation ("keep one document per near-dup cluster"). Three tiers:

    1. **Partition-local contraction** (always): one mapInPandas pass runs
       union-find inside each partition and emits node→local-root star
       edges — no shuffle, strictly fewer rows out than edges in, and the
       intra-partition diameter collapses to 1 before any join round.
    2. **Guarded finish on the driver**: the contracted star has one row
       per edge-TOUCHED node — in an LSH pipeline that's ~0.1% of the
       corpus (that is the point of LSH). When it fits under
       ``driver_node_limit`` rows (default ``runtime.LOCAL_ROW_LIMIT``,
       the guard of every in-process tier), read it as Arrow columns,
       union-find the stars on the driver and broadcast-join the label
       map back: total cost is one probe job + one broadcast join, zero
       iterative rounds.
       This is the same small-side pattern as a broadcast hash join, with
       the same explicit size guard.
    3. **Iterative min-label propagation** (the scale path, when the star
       exceeds the guard): each round joins labels to neighbors, takes
       the min, and pointer-halves — O(log diameter) rounds over
       already-contracted stars (near-dup clusters are shallow; at web
       scale the large-star/small-star alternation [Kiveris et al.,
       "Connected Components in MapReduce and Beyond"] bounds rounds at
       O(log² n); the per-round plan here — one equi-join + one groupBy
       min — is the same shape either way). Each round is persisted and
       checked for a fixpoint, so the driver loop runs O(log diameter)
       Spark jobs, not one giant lazy tree.

    ``nodes`` (optional, column ``id_col``) adds isolated documents as
    their own singleton components.
    """
    raw = pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
    node_t = raw.schema["src"].dataType
    star_schema = T.StructType([
        T.StructField("src", node_t), T.StructField("dst", node_t)])
    # Tier 1: per-partition union-find contraction (no shuffle).
    # Lazy persist, not eager localCheckpoint: the guard probe below is
    # the materializing action (compute + cache in ONE pass/job). An
    # eager checkpoint spent a dedicated job materializing and the probe
    # scanned it again. Tier 2 unpersists after its probe; tier 3
    # unpersists after checkpointing its edge frame.
    from pyspark import StorageLevel

    star = raw.mapInPandas(
        lambda it: _local_union_find(it, "src", "dst"), schema=star_schema
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # ONE job decides the tier AND (in the common tier-2 case) returns
    # the star as Arrow columns (the old count()+collect() pair was two
    # driver job barriers). When the star is over the guard, the worst
    # case is min(partition_rows, guard+1) rows per task — the
    # documented P x limit bound, and the probe job doubles as the cache
    # materializer tier 3 reads.
    table = probe_arrow(star, driver_node_limit)

    if table is not None:
        # Tier 2: the star mapping is one row per edge-touched node and
        # under the guard — finish with one union-find over the probed
        # stars and broadcast the labels back (the probe reads the REDUCED
        # mapping, never the corpus or the raw edge list).
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        star.unpersist()
        srcs = table.column("src").to_pylist()
        for a, b in zip(srcs, table.column("dst").to_pylist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        # a node that appears in several partitions' stars shows up in
        # several probed rows — labels must be UNIQUE per node or the
        # final left-join fans out duplicate rows
        label_rows = sorted((n, find(n)) for n in set(srcs))
        clustered = local_relation(
            pairs.sparkSession, label_rows,
            T.StructType([T.StructField(id_col, node_t),
                          T.StructField("comp", node_t)]),
        )
        if nodes is None:
            return clustered
        return (
            nodes.select(id_col)
            .join(F.broadcast(clustered), on=id_col, how="left")
            .select(id_col, F.coalesce("comp", F.col(id_col)).alias("comp"))
        )

    # Tier 3: iterate over the contracted stars (both directions so the
    # min-label can flow root→member as well as member→root).
    edges = star.union(
        star.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # localCheckpoint each round: truncates the lineage (the loop joins
    # labels against frames derived from labels — ambiguous otherwise)
    # and keeps every round's plan O(1)
    edges = edges.localCheckpoint(eager=True)
    star.unpersist()
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src").agg(F.min("comp").alias("ncomp"))
            .withColumnRenamed("src", "jnode")
        )
        # carry the previous label through the select so the fixpoint test
        # is a filter+count over the checkpointed frame, not another join
        cand = labels.join(neigh, labels["node"] == neigh["jnode"], "left").select(
            F.col("node"),
            F.least(F.col("comp"),
                    F.coalesce(F.col("ncomp"), F.col("comp"))).alias("cand"),
            F.col("comp").alias("_prev"),
        )
        # pointer halving: hop once through the previous label table
        # (comp ← label[comp]) in the SAME round plan, so each round is
        # one checkpoint. Neighbor-min alone needs O(diameter) rounds;
        # the hop halves label paths → O(log diameter).
        look = labels.select(F.col("node").alias("lnode"),
                             F.col("comp").alias("lcomp"))
        new_labels = (
            cand.join(look, cand["cand"] == look["lnode"], "left")
            .select(
                F.col("node"),
                F.least(F.col("cand"),
                        F.coalesce(F.col("lcomp"), F.col("cand"))).alias("comp"),
                F.col("_prev"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("comp") != F.col("_prev")).count()
        labels = new_labels.select("node", "comp")
        if changed == 0:
            break
    clustered = labels.select(F.col("node").alias(id_col), "comp")
    if nodes is None:
        return clustered
    return (
        nodes.select(id_col)
        .join(clustered, on=id_col, how="left")
        .select(id_col, F.coalesce("comp", F.col(id_col)).alias("comp"))
    )


def dedup_pipeline(
    df: DataFrame,
    id_col: str,
    text_col: str,
    method: str = "minhash",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    hash_fn: str = "md5",
    bits: int = 16,
    return_clusters: bool = False,
):
    """One-call corpus dedup — the end-to-end shape an LLM training-data
    pipeline runs, composed from the scale-guarded pieces:

    1. exact pass: bit-identical texts collapse to their min-id row
       (one shuffle, ``exact_dedup``);
    2. candidate pass (``method``): 'minhash' LSH buckets (hot-bucket
       star guard on), 'simhash' band buckets, or 'ngram' ppjoin —
       over the exact-unique survivors only, so duplicate multiplicity
       never reaches the quadratic join;
    3. verify: exact Jaccard ≥ threshold (minhash/simhash candidates);
    4. cluster: ``connected_components`` over verified pairs (exact-dup
       stars included), keep each cluster's min id.

    Returns the kept rows; with ``return_clusters=True`` returns
    (kept_rows, cluster_map) where cluster_map is (id, comp) over ALL
    input rows — comp is the kept representative's id.
    """
    fp = df.select(F.col(id_col), F.col(text_col),
                   F.md5(F.col(text_col)).alias("__fp"))
    reps = fp.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
    tagged = fp.join(reps, "__fp")
    exact_stars = tagged.filter(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
    uniq = df.join(tagged.filter(F.col(id_col) == F.col("__rep"))
                   .select(id_col), on=id_col)

    if method == "minhash":
        cand = minhash_lsh_candidates(uniq, id_col, text_col, num_hashes,
                                      bands, k, hash_fn)
        near = jaccard_verify(cand, uniq, id_col, text_col, k, threshold) \
            .select("id_a", "id_b")
    elif method == "simhash":
        cand = simhash_candidates(uniq, id_col, text_col, bits=bits,
                                  bands=bands)
        near = jaccard_verify(cand, uniq, id_col, text_col, k, threshold) \
            .select("id_a", "id_b")
    elif method == "ngram":
        near = ngram_jaccard_join(uniq, id_col, text_col, k, threshold) \
            .select("id_a", "id_b")
    elif method == "exact":
        near = exact_stars.limit(0)
    else:
        raise ValueError(f"method {method!r}; minhash/simhash/ngram/exact")

    pairs = near.unionByName(exact_stars)
    comp = connected_components(
        pairs, "id_a", "id_b",
        nodes=df.select(F.col(id_col).alias("id")), id_col="id")
    kept = df.join(
        comp.filter(F.col("id") == F.col("comp"))
        .select(F.col("id").alias(id_col)), on=id_col)
    if return_clusters:
        return kept, comp
    return kept


# ---------------------------------------------------------------------------
# incremental MinHash index (build once / persist / query new batches)
# ---------------------------------------------------------------------------

def minhash_index_build(df: DataFrame, id_col: str, text_col: str,
                        num_hashes: int = 16, bands: int = 4, k: int = 5,
                        hash_fn: str = "md5") -> DataFrame:
    """LSH bucket table (id, band, key) for the corpus — the persistable
    index of an INCREMENTAL ingestion pipeline (write it as parquet
    partitioned by ``band``; each day's query then prunes to its band
    partitions). Built from :func:`minhash_table` (explode + one hash
    aggregate — the codegen-stable shape)."""
    rows_per_band = num_hashes // bands
    sig = minhash_table(df, id_col, text_col, num_hashes, k, hash_fn)
    sig_arr = F.array(*[F.col(f"mh{i}") for i in range(num_hashes)])
    return sig.select(
        F.col(id_col),
        F.explode(minhash_band_keys(sig_arr, bands, rows_per_band))
        .alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))


def minhash_index_query(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs (new_id, old_id) between a NEW batch and
    an existing index — near-dup ingestion without touching old text:
    the new batch's buckets equi-join the index on (band, key). Feed the
    result to :func:`jaccard_verify` with a text table covering both
    sides for exact confirmation. One shuffle on the bucket key."""
    new_buckets = minhash_index_build(new_df, id_col, text_col,
                                      num_hashes, bands, k, hash_fn)
    nb = new_buckets.select(F.col(id_col).alias("id_a"), "band", "key")
    ob = index.select(F.col(id_col).alias("id_b"), "band", "key")
    return (
        nb.join(ob, ["band", "key"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# exact substring (repeated-span) dedup
# ---------------------------------------------------------------------------

def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Remove every repeated k-word span from all but its first occurrence
    (corpus-wide exact substring dedup, the word-level analogue of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — their suffix-array pass removes byte spans repeated >=1
    time; here the unit is a normalized word window).

    Semantics (deterministic):
      * Normalize text to a word array (lower, trim, collapse whitespace).
      * Every k-word window that occurs more than once corpus-wide is a
        duplicated span. Its canonical occurrence is the globally first
        one by (id, position); every OTHER occurrence marks its k word
        positions for deletion (internal repeats within one doc count —
        the second occurrence in the same doc is removed too).
      * Overlapping marked spans union their positions; surviving words
        re-join with single spaces.

    Returns ``df`` with ``out_col`` (default: ``text_col`` replaced) plus
    ``n_words`` (pre-dedup) and ``n_removed`` columns.

    Scale shape (the reason this is join-topology, not a suffix array):
      1. window extraction is pure col-expr over a *projected* word array
         (one row per input row, O(words) windows);
      2. ONE shuffle on the 64-bit window hash (ints only — text never
         shuffles here) finds duplicated windows and their canonical
         occurrence via min(struct(id, pos));
      3. kill positions aggregate per doc (second int-only shuffle, rows
         bounded by duplicated occurrences, not corpus size);
      4. one equi-join back on id attaches the kill list; reconstruction
         is a codegen array filter. AQE broadcasts the kill side when
         duplication is sparse (the common case at 100 TB).

    Hash note: windows are compared by ``xxhash64`` of the gram string
    (64-bit, seed-stable). A cross-gram collision would merge two
    unrelated spans; at 2^64 that is negligible and the DuckDB oracle
    (which groups the gram string itself) doubles as the collision check
    at test scale.
    """
    out_col = out_col or text_col
    other_cols = [c for c in df.columns if c != text_col]

    # the corpus-wide normalization rule lives in pipeline.normalized_words
    # (function-level import — pipeline.py is import-independent of this
    # module, but keep the dependency one-directional and lazy)
    from .pipeline import normalized_words

    words = df.select(
        *other_cols,
        normalized_words(F.col(text_col)).alias("_w"),
    )
    cnt = F.size(F.col("_w"))
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(cnt - F.lit(k - 1), F.lit(1))),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.xxhash64(F.concat_ws(" ", F.slice(F.col("_w"), i, k))).alias("h"),
        ),
    )
    # docs shorter than k words have no k-window: slice(wins, 1, 0) keeps
    # the struct element type while emptying the array
    wins = F.when(cnt >= k, wins).otherwise(F.slice(wins, 1, 0))

    occ = words.select(F.col(id_col), F.explode(wins).alias("o")).select(
        id_col, F.col("o.pos").alias("pos"), F.col("o.h").alias("h")
    )
    dup = (
        occ.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first"),
        )
        .filter(F.col("n_occ") > 1)
        .select("h", F.col(f"first.{id_col}").alias("_fid"),
                F.col("first.pos").alias("_fpos"))
    )
    kills = (
        occ.join(dup, "h")
        .filter(~((F.col(id_col) == F.col("_fid"))
                  & (F.col("pos") == F.col("_fpos"))))
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_kill"))
    )

    joined = words.join(kills, id_col, "left").withColumn(
        "_kill",
        F.coalesce(F.col("_kill"), F.expr("CAST(array() AS ARRAY<INT>)")),
    )
    kept = F.filter(
        F.transform(
            F.col("_w"),
            lambda x, i: F.struct(x.alias("x"), (i + 1).cast("int").alias("p")),
        ),
        lambda s: ~F.exists(
            F.col("_kill"),
            lambda ks: (ks <= s["p"]) & (s["p"] < ks + F.lit(k)),
        ),
    )
    return joined.select(
        *other_cols,
        F.concat_ws(" ", F.transform(kept, lambda s: s["x"])).alias(out_col),
        F.size(F.col("_w")).alias("n_words"),
        (F.size(F.col("_w")) - F.size(kept)).alias("n_removed"),
    )


def substring_dedup_sql(table: str, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8) -> str:
    """ANSI/DuckDB twin of :func:`substring_dedup` (grams grouped by
    string — doubles as the hash-collision check). Returns a SELECT of
    (id, text, n_words, n_removed)."""
    return f"""
        WITH _docs AS (
          SELECT {id_col} AS _id,
                 string_split(regexp_replace(trim(lower({text_col})),
                                             '\\s+', ' ', 'g'), ' ') AS _w
          FROM {table}
        ), _occ AS (
          SELECT _id, i AS pos,
                 array_to_string(list_slice(_w, i, i + {k} - 1), ' ') AS gram
          FROM _docs, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(_w) - {k} + 1, 0)))
          ) AS s(i)
        ), _marked AS (
          SELECT _id, pos,
                 count(*) OVER (PARTITION BY gram) AS cnt,
                 row_number() OVER (PARTITION BY gram
                                    ORDER BY _id, pos) AS rn
          FROM _occ
        ), _kills AS (
          SELECT _id, pos FROM _marked WHERE cnt > 1 AND rn > 1
        ), _wordpos AS (
          SELECT d._id, j, d._w[j] AS word
          FROM _docs d, LATERAL (
            SELECT unnest(generate_series(1, len(d._w)))
          ) AS t(j)
        ), _kept AS (
          SELECT w._id, w.j, w.word
          FROM _wordpos w
          WHERE NOT EXISTS (
            SELECT 1 FROM _kills x
            WHERE x._id = w._id AND x.pos <= w.j AND w.j < x.pos + {k}
          )
        ), _agg AS (
          SELECT _id, string_agg(word, ' ' ORDER BY j) AS new_text,
                 count(*) AS n_kept
          FROM _kept GROUP BY _id
        )
        SELECT d._id AS {id_col}, coalesce(a.new_text, '') AS {text_col},
               CAST(len(d._w) AS BIGINT) AS n_words,
               CAST(len(d._w) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        FROM _docs d LEFT JOIN _agg a ON a._id = d._id
    """


def hamming_neardup_pairs(
    df: DataFrame, id_col: str, hash_col: str, bits: int = 64,
    bands: int = 8, max_hamming: int = 3,
    bucket_cap: Optional[int] = None, persist: bool = True,
) -> DataFrame:
    """Near-duplicate pairs over an integer fingerprint column — the
    modality-agnostic hamming tier: feed it the 64-bit perceptual aHash
    that :func:`operators.multimodal.image_features` emits (image dedup),
    a simhash, or any LSB-packed bit signature.

    LSH shape: the fingerprint splits into ``bands`` disjoint bit ranges;
    candidates share at least one (band, value) bucket. By pigeonhole any
    pair with hamming distance < ``bands`` agrees on some band, so for
    ``max_hamming <= bands - 1`` the candidate set has NO recall loss —
    the post-join ``bit_count(xor) <= max_hamming`` verification makes
    the result exact, never approximate. Cost: one explode to bands× the
    fingerprint count (ids + longs only), one equi-join on (band, key),
    one hash join back for the verify — no text/payload ever shuffles.

    ``bucket_cap`` (default None = exact) star-collapses oversized
    buckets like minhash_lsh_candidates; use it ONLY when feeding a
    connected-components clustering (star candidates are connectivity-
    equivalent but the per-pair hamming verification here would drop
    star legs, under-reporting direct pairs — same caveat the round-3
    advice fixed in minhash_dedup).
    """
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    if not 0 <= max_hamming < bands:
        raise ValueError(
            "max_hamming must be < bands for the exactness guarantee "
            "(a pair differing in >= bands bits can miss every bucket)")
    sig = df.select(F.col(id_col).alias("__id"),
                    F.col(hash_col).cast("long").alias("__sh"))
    if persist:
        # the (id, hash) projection feeds the band branches, BOTH
        # self-join sides and both verify joins — ~18 lineage replays of
        # the caller's fingerprint expression without materialization
        # (measured 11.5 s → 1.5 s on a 5k-doc q107 at sf0.1). Two longs
        # per row: bounded and scale-safe. localCheckpoint, NOT persist:
        # Dataset caches live in the CacheManager until an explicit
        # unpersist (which a lazily-returned result can't schedule),
        # while checkpoint RDD blocks are GC-reclaimed by the
        # ContextCleaner once the result goes out of scope.
        sig = sig.localCheckpoint(eager=True)
    pairs = _bucket_pairs(_band_buckets(sig, bits, bands), bucket_cap)
    ha = sig.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__ha"))
    hb = sig.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__hb"))
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return (
        pairs.join(ha, "id_a").join(hb, "id_b")
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 2,
    q: int = 3,
    max_short_rows: int = 50_000,
    max_short_pairs: int = 4_000_000,
) -> DataFrame:
    """Exact edit-distance near-dup: all unordered pairs with
    ``levenshtein(a, b) <= max_distance`` — the string-similarity tier
    next to jaccard (q-gram sets), minhash, simhash, and hamming.

    Candidate generation is the POSITIONAL q-gram count filter (Gravano
    et al., VLDB 2001): any pair within edit distance ``d`` has at least
    ``max(|a|,|b|) - q + 1 - q*d`` of a's positional q-grams matched in
    b within a position shift of ``d``. Grams join on
    (gram, position-bucket) with ``bucket = pos div (d+1)`` and the left
    side exploded to its bucket ±1 (a shift ≤ d crosses at most one
    bucket boundary), so a hot gram — every corpus shares common
    trigrams — only meets its ±d positional neighborhood instead of
    every occurrence corpus-wide (measured 9.0 s → 1.6 s on q127 at
    sf0.1 vs the non-positional multiset join). Pairs below the bound
    can never be within distance ``d`` and never reach the verifier.
    Strings short enough that the bound is non-positive
    (``len <= q*(d+1) - 1``) can pair while sharing zero grams, so
    short×short pairs divert to a guarded broadcast cross tier. The
    guard bounds BOTH the broadcast side (``max_short_rows``) and the
    implied candidate-pair count n·(n−1)/2 (``max_short_pairs``) — the
    row cap alone would admit a 50k×50k ≈ 2.5B-pair cross join.

    Verification is Spark's banded ``levenshtein(l, r, threshold)`` —
    the candidate filter affects COST only, never the result set, which
    equals the brute-force quadratic definition (the oracle formulation).

    Scale shape: one explode to ~3·len rows per string, one
    (gram, bucket) equi-join with map-side-combined pair counting,
    broadcast joins for the two text lookups, exact verify on the
    surviving pairs.

    Worst case (measured): the positional bound caps a hot gram at its
    ±d positional NEIGHBORHOOD — a gram shared by many strings **at the
    same position** (e.g. a constant prefix every string carries, or a
    low-entropy alphabet where the q-gram space itself collides) still
    joins quadratically within that neighborhood. Strip shared literal
    prefixes and size ``q`` to the alphabet (hex needs q≥5; see
    scripts/scale_probe.py) before running at scale.
    """
    d = int(max_distance)
    if d < 0:
        raise ValueError("max_distance must be >= 0")
    s = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__t"),
    ).filter(F.col("__t").isNotNull()).withColumn("__len", F.length("__t"))

    short_max = q * (d + 1) - 1  # bound <= 0 ⇔ len <= q(d+1)-1

    # positional q-grams: (id, len, pos, gram) rows
    grams = s.filter(F.col("__len") >= q).select(
        "__id", "__len",
        F.explode(F.expr(
            f"transform(sequence(1, __len - {q} + 1),"
            f" p -> struct(p AS p, substring(__t, p, {q}) AS g))"
        )).alias("__pg"),
    ).select("__id", "__len",
             F.col("__pg.p").alias("__p"), F.col("__pg.g").alias("__g"))
    bkt = F.floor(F.col("__p") / F.lit(d + 1)).cast("long")
    ga = grams.select(
        F.col("__id").alias("id_a"), F.col("__len").alias("__la"),
        F.col("__p").alias("__pa"), "__g",
        F.explode(F.array(bkt - 1, bkt, bkt + 1)).alias("__b"),
    )
    gb = grams.select(
        F.col("__id").alias("id_b"), F.col("__len").alias("__lb"),
        F.col("__p").alias("__pb"), "__g", bkt.alias("__b"),
    )
    cand = (
        ga.join(gb, ["__g", "__b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((F.col("__la") - F.col("__lb")).between(-d, d))
        .filter((F.col("__pa") - F.col("__pb")).between(-d, d))
        .groupBy("id_a", "id_b")
        # countDistinct(pa) = a-positions with a shift-<=d match in b —
        # exactly the quantity the positional bound constrains (a pa
        # matching several pb must count once)
        .agg(F.countDistinct("__pa").alias("__shared"),
             F.first("__la").alias("__la"),
             F.first("__lb").alias("__lb"))
        .filter(F.col("__shared") >= F.greatest(
            F.col("__la"), F.col("__lb")) - F.lit(q - 1) - F.lit(q * d))
        .select("id_a", "id_b")
    )

    # short×short diversion: both lens <= short_max — the only pairs the
    # count filter can miss. Guarded probe, broadcast cross, same-pair
    # orientation.
    shorts = s.filter(F.col("__len") <= short_max)
    # effective row cap: whichever of the row budget and the pair budget
    # binds first (n rows imply n·(n−1)/2 cross-tier candidate pairs)
    pair_rows = int((1 + math.isqrt(1 + 8 * max_short_pairs)) // 2)
    row_cap = min(max_short_rows, pair_rows)
    ids = shorts.select("__id")
    short_ids = probe_arrow(ids, row_cap)
    if short_ids is None:
        raise ValueError(
            f"edit_distance_pairs: >{row_cap} strings shorter than "
            f"{short_max + 1} chars (row budget {max_short_rows}, pair "
            f"budget {max_short_pairs} ≈ {pair_rows} rows) — the "
            "short-string cross tier would blow up; raise q, pre-filter "
            "trivial strings, or raise the budgets")
    if short_ids.num_rows >= 2:
        # both sides from the probed ids: s is not evaluated again
        sid = local_relation(df.sparkSession, short_ids, ids.schema)
        sa = sid.select(F.col("__id").alias("id_a"))
        sb = sid.select(F.col("__id").alias("id_b"))
        short_pairs = (
            sa.crossJoin(F.broadcast(sb))
            .filter(F.col("id_a") < F.col("id_b"))
        )
        cand = cand.unionByName(short_pairs).distinct()

    ta = s.select(F.col("__id").alias("id_a"), F.col("__t").alias("__ta"))
    tb = s.select(F.col("__id").alias("id_b"), F.col("__t").alias("__tb"))
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"), d)
    return (
        cand.join(ta, "id_a").join(tb, "id_b")
        .withColumn("distance", dist)
        .filter((F.col("distance") >= 0) & (F.col("distance") <= d))
        .select("id_a", "id_b", F.col("distance").cast("int").alias("distance"))
    )
