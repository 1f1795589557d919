"""Distributed cardinality / frequency sketches with ANSI-SQL twins.

At 100 TB, exact ``count(DISTINCT …)`` and exact per-item frequency tables
are the two aggregations that stop fitting: both need a full shuffle of
every distinct value.  The sketches here are the standard decomposable
answers — HyperLogLog (Flajolet et al. 2007) for cardinality and count-min
(Cormode & Muthukrishnan 2005) for frequency — built so that BOTH engines
(Spark and the DuckDB oracle) compute bit-identical sketch state:

* the item hash is md5 decoded with ascii arithmetic (the repo-wide
  portable-hash recipe from :mod:`..operators.dsir` — no engine-specific
  hex→int builtin), so register indexes and rho values agree exactly;
* the HLL harmonic sum is kept in INTEGER arithmetic (``sum(1 << (49 -
  rho))`` over a 48-bit hash) — float summation order would de-sync the
  engines at the ulp level, an integer sum cannot;
* only the final estimate touches doubles (one division, one optional
  ``ln``), rounded before comparison.

Scale shape: HLL registers are a ``groupBy(bucket).max(rho)`` — map-side
partial max, at most ``m`` rows per group survive the shuffle; merging
sketches from two corpora is the same ``max``.  The count-min table is a
``groupBy(row, col).sum`` — map-side partial sum, ``depth × width`` rows
total regardless of corpus size; merge is ``+``.  Neither ever shuffles
raw values.  (Spark's built-in ``approx_count_distinct`` is also HLL but
its register layout is not reproducible in ANSI SQL, which is why the
oracle-checkable variant exists; use either at scale.)
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "hll_registers", "hll_estimate", "hll_register_sql", "hll_estimate_sql",
    "count_min_sketch", "count_min_estimate", "cms_bucket_sql",
    "histogram_sketch", "histogram_quantiles", "histogram_bin_sql",
    "histogram_quantile_sql", "hll_union", "hll_overlap_estimate",
]

_W = 48  # rho source bits (hex digits 5..16 of md5)


def _digit_sql(hexpr: str, i: int) -> str:
    a = f"ascii(substring({hexpr}, {i}, 1))"
    return f"({a} - CASE WHEN {a} >= 97 THEN 87 ELSE 48 END)"


def _hex_long(h: Column, start: int, n: int) -> Column:
    """Decode ``n`` hex digits of a hex string to a BIGINT (n <= 15).

    ONE builtin (conv base 16 -> 10, cast long) — the digit-by-digit
    ascii/substring chain this replaces was ~10 py4j ROUND TRIPS per
    digit at DataFrame-BUILD time (measured 1.0 s of q115's 1.3 s wall
    just constructing the plan; the executed values are identical). The
    SQL twin (:func:`_hex_long_sql`) keeps the digit chain — DuckDB has
    no conv()."""
    return F.conv(F.substring(h, start, n), 16, 10).cast("long")


def _hex_long_sql(hexpr: str, start: int, n: int) -> str:
    # seed as BIGINT so the whole chain promotes (INT32 overflows at 8 digits)
    v = f"CAST({_digit_sql(hexpr, start)} AS BIGINT)"
    for i in range(start + 1, start + n):
        v = f"({v} * 16 + {_digit_sql(hexpr, i)})"
    return v


# --------------------------------------------------------------------------
# HyperLogLog
# --------------------------------------------------------------------------

def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _est_const(m: int) -> float:
    """alpha_m * m^2 * 2^(W+1) as one python double, shared with the twin."""
    return _alpha(m) * m * m * float(1 << (_W + 1))


def hll_registers(
    df: DataFrame, item: Column, p: int, by: Optional[Sequence[str]] = None
) -> DataFrame:
    """Non-empty HLL registers: one row per (``by``…, bucket) with
    ``reg = max(rho)``.  ``p`` ∈ [4, 12] → m = 2^p buckets (the bucket
    index comes from 4 md5 hex digits, the rho source from the next 12;
    p ≤ 12 also keeps the integer harmonic sum below 2^63).

    Decomposable: ``max`` merges across partitions, days, or corpora.
    """
    if not 4 <= p <= 12:
        raise ValueError("p must be in [4, 12]")
    m = 1 << p
    keys = list(by or [])
    h = F.md5(item)
    bucket = (_hex_long(h, 1, 4) % F.lit(m)).cast("int")
    v = _hex_long(h, 5, 12)  # 48-bit rho source
    rho = F.when(v == 0, F.lit(_W + 1)).otherwise(
        F.lit(_W + 1) - F.length(F.bin(v))
    ).cast("int")
    return (
        df.select(*[F.col(k) for k in keys], bucket.alias("bucket"),
                  rho.alias("rho"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_estimate(
    registers: DataFrame, p: int, by: Optional[Sequence[str]] = None
) -> DataFrame:
    """Cardinality estimate from :func:`hll_registers` output, one row per
    ``by`` group, column ``est`` (double).  Empty registers are NOT
    materialized: with ``z`` of the ``m`` buckets absent, the harmonic sum
    gains ``z << 49`` and the linear-counting path uses ``z`` directly.
    Small-range correction per the HLL paper (E ≤ 2.5 m and zeros > 0 →
    linear counting); the 48-bit hash needs no large-range correction at
    any realistic cardinality.
    """
    m = 1 << p
    keys = list(by or [])
    g = registers.groupBy(*keys).agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), cast({_W + 1} - reg as int))"))
        .cast("long").alias("s_present"),
        F.count("*").cast("long").alias("n_present"),
    )
    zeros = F.lit(m) - F.col("n_present")
    s_total = F.col("s_present") + zeros * F.lit(1 << (_W + 1)).cast("long")
    # ONE python float constant shared verbatim with the SQL twin — both
    # engines then divide the identical double by the identical integer.
    e_raw = F.lit(_est_const(m)) / s_total.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return g.select(*keys, est.alias("est"))


def hll_register_sql(item_expr: str, p: int) -> tuple:
    """(bucket_expr, reg_expr_pieces) for the SQL twin: returns SQL strings
    ``bucket`` and ``rho`` to aggregate as ``max(rho)`` grouped by bucket.
    """
    m = 1 << p
    h = f"md5({item_expr})"
    bucket = f"(({_hex_long_sql(h, 1, 4)}) % {m})"
    v = _hex_long_sql(h, 5, 12)
    rho = (f"(CASE WHEN {v} = 0 THEN {_W + 1} "
           f"ELSE {_W + 1} - length(bin({v})) END)")
    return bucket, rho


def hll_estimate_sql(p: int) -> str:
    """SQL expression over columns ``s_present``/``n_present`` (as built by
    the twin's register aggregation) yielding the same estimate."""
    m = 1 << p
    s_total = (f"(s_present + ({m} - n_present) * "
               f"(CAST(1 AS BIGINT) << {_W + 1}))")
    e_raw = (f"(CAST({_est_const(m)!r} AS DOUBLE) / "
             f"CAST({s_total} AS DOUBLE))")
    zeros = f"({m} - n_present)"
    return (f"CASE WHEN {e_raw} <= CAST({2.5 * m!r} AS DOUBLE) AND {zeros} > 0 "
            f"THEN CAST({float(m)!r} AS DOUBLE) * "
            f"ln(CAST({float(m)!r} AS DOUBLE) / {zeros}) "
            f"ELSE {e_raw} END")


# --------------------------------------------------------------------------
# count-min
# --------------------------------------------------------------------------

def _cms_col(item: Column, row: int, width: int) -> Column:
    h = F.md5(F.concat(F.lit(f"cms{row}:"), item))
    return (_hex_long(h, 1, 8) % F.lit(width)).cast("int")


def cms_bucket_sql(item_expr: str, row: int, width: int) -> str:
    h = f"md5('cms{row}:' || {item_expr})"
    return f"(({_hex_long_sql(h, 1, 8)}) % {width})"


def count_min_sketch(
    df: DataFrame, item: Column, depth: int = 4, width: int = 1024,
    weight: Optional[Column] = None,
) -> DataFrame:
    """Count-min table: ``depth × width`` cells, ``cnt = Σ weight`` (default
    1 per row).  One shuffle of (row, col, partial-count) int triples —
    map-side combine collapses each partition to ≤ depth·width rows first.
    """
    w = weight if weight is not None else F.lit(1).cast("long")
    # depth-way union of flat projections: measured 4.5 s for the whole
    # q115 pipeline at sf0.1 vs 22 s for the explode(array(struct…))
    # single-scan variant — the nested generate defeats whole-stage
    # codegen for the md5 decode chain, while the union's branches each
    # stay fully codegen'd (and Spark scans the upstream per branch
    # cheaply: the items come from a projected column, not a re-read).
    parts = [
        df.select(
            F.lit(d).alias("row"),
            _cms_col(item, d, width).alias("col"),
            w.alias("w"),
        )
        for d in range(depth)
    ]
    u = parts[0]
    for pdf in parts[1:]:
        u = u.unionByName(pdf)
    return u.groupBy("row", "col").agg(F.sum("w").cast("long").alias("cnt"))


def count_min_estimate(
    sketch: DataFrame, items: DataFrame, item: Column,
    depth: int = 4, width: int = 1024, broadcast: bool = True,
) -> DataFrame:
    """Point estimates (upper bounds) for each row of ``items``: the min
    over the ``depth`` cells the item hashes to.  The sketch is
    depth·width rows — broadcast by default, so the probe never
    shuffles ``items``. Pass ``broadcast=False`` when the probe side is
    itself tiny (e.g. a top-K list): the sketch then joins as a plain
    shuffle join INSIDE the probe's job, skipping the broadcast-build
    job barrier (both exchanges are ≤ depth·width rows — still bounded,
    still scale-safe). Output: items' columns + ``est`` (long).
    """
    probes = None
    for d in range(depth):
        pr = items.select(
            *[F.col(c) for c in items.columns],
            F.lit(d).alias("row"),
            _cms_col(item, d, width).alias("col"),
        )
        probes = pr if probes is None else probes.unionByName(pr)
    side = F.broadcast(sketch) if broadcast else sketch
    j = probes.join(side, ["row", "col"], "left")
    return (
        j.groupBy(*[F.col(c) for c in items.columns])
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long")
             .alias("est"))
    )


# --------------------------------------------------------------------------
# fixed-bin histogram quantiles
# --------------------------------------------------------------------------

def _bin_expr(col: Column, lo: float, hi: float, bins: int) -> Column:
    scaled = (col.cast("double") - F.lit(lo)) / F.lit(hi - lo) * F.lit(bins)
    b = F.floor(scaled).cast("int")
    return F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1))


def histogram_bin_sql(expr: str, lo: float, hi: float, bins: int) -> str:
    scaled = (f"(CAST({expr} AS DOUBLE) - CAST({lo!r} AS DOUBLE)) / "
              f"CAST({hi - lo!r} AS DOUBLE) * {bins}")
    return (f"least(greatest(CAST(floor({scaled}) AS INT), 0), {bins - 1})")


def histogram_sketch(
    df: DataFrame, col: Column, lo: float, hi: float, bins: int = 256,
    by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Fixed-edge histogram: ≤ ``bins`` rows per group, (``by``…, bin,
    cnt).  Values clamp into the edge bins.  Unlike Spark's native
    ``approxQuantile`` (Greenwald-Khanna, not replayable in ANSI SQL),
    the deterministic edges make the whole estimate portable — and the
    sketch merges across corpora/days by summing counts per bin."""
    keys = list(by or [])
    return (
        df.select(*[F.col(k) for k in keys],
                  _bin_expr(col, lo, hi, bins).alias("bin"))
        # NULL values are EXCLUDED (standard histogram semantics) — a
        # NULL bin would also sort nulls-first in Spark's cumsum window
        # but nulls-last in the DuckDB twin, desyncing the estimate
        .filter(F.col("bin").isNotNull())
        .groupBy(*keys, "bin")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def histogram_quantiles(
    sketch: DataFrame, qs: Sequence[float], lo: float, hi: float,
    bins: int = 256, by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each q, the value
    at the q-th fraction assuming uniform mass inside each bin (error ≤
    one bin width).  Output: (``by``…, q, est).  Pure col-expr — the bin
    cumsum is a window over ≤ ``bins`` rows per group."""
    keys = list(by or [])
    w = (Window.partitionBy(*[F.col(k) for k in keys]).orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot_w = Window.partitionBy(*[F.col(k) for k in keys])
    cum = (
        sketch.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("total", F.sum("cnt").over(tot_w))
    )
    width = (hi - lo) / bins
    outs = []
    for q in qs:
        target = F.ceil(F.lit(float(q)) * F.col("total"))
        # first bin whose cumulative count reaches the target
        hit = (
            cum.filter(F.col("cum") >= target)
            .groupBy(*keys)
            .agg(F.min_by(
                F.struct("bin", "cum", "cnt", "total"), F.col("bin")
            ).alias("h"))
        )
        target_h = F.ceil(F.lit(float(q)) * F.col("h.total"))
        frac = (
            (target_h.cast("double")
             - (F.col("h.cum") - F.col("h.cnt")).cast("double"))
            / F.col("h.cnt").cast("double")
        )
        est = (F.lit(lo) + (F.col("h.bin").cast("double") + frac)
               * F.lit(width))
        outs.append(hit.select(
            *keys, F.lit(float(q)).alias("q"), est.alias("est")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def histogram_quantile_sql(
    q: float, lo: float, hi: float, bins: int,
    sketch_cte: str, keys: Sequence[str],
) -> str:
    """SQL twin of one :func:`histogram_quantiles` entry over a CTE named
    ``sketch_cte`` with columns (keys..., bin, cnt).  Yields a SELECT of
    (keys..., q, est) replaying the identical cumsum/interpolation."""
    ks = ", ".join(keys)
    kpfx = f"{ks}, " if ks else ""
    part = f"PARTITION BY {ks} " if ks else ""
    width = (hi - lo) / bins
    return f"""
        SELECT {kpfx}CAST({float(q)!r} AS DOUBLE) AS q,
               CAST({lo!r} AS DOUBLE)
                 + (CAST(bin AS DOUBLE)
                    + (CAST(target AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
                      / CAST(cnt AS DOUBLE))
                   * CAST({width!r} AS DOUBLE) AS est
        FROM (
          SELECT {kpfx}bin, cnt, cum, target,
                 row_number() OVER ({part}ORDER BY bin) AS rn
          FROM (
            SELECT {kpfx}bin, cnt,
                   sum(cnt) OVER ({part}ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   CAST(ceil({float(q)!r} * sum(cnt) OVER ({part.strip() or ''})) AS BIGINT) AS target
            FROM {sketch_cte}
          ) WHERE cum >= target
        ) WHERE rn = 1
    """


def hll_union(
    regs_a: DataFrame, regs_b: DataFrame,
    by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Union of two HLL sketches: register-wise max — the merge that makes
    HLL composable across corpora/shards/days without re-reading data."""
    keys = list(by or [])
    return (
        regs_a.unionByName(regs_b)
        .groupBy(*keys, "bucket")
        .agg(F.max("reg").alias("reg"))
    )


def hll_overlap_estimate(
    regs_a: DataFrame, regs_b: DataFrame, p: int,
) -> DataFrame:
    """|A|, |B|, |A∪B| and the inclusion-exclusion |A∩B| estimate from two
    keyless sketches — one row (est_a, est_b, est_union, est_intersect).
    Standard HLL practice: intersection error grows as the true overlap
    shrinks relative to the union (inclusion-exclusion subtracts two
    large estimates), so treat small intersections as noisy.  Every step
    is the portable estimator, so the whole computation replays in SQL.
    """
    ea = hll_estimate(regs_a, p).select(F.col("est").alias("est_a"))
    eb = hll_estimate(regs_b, p).select(F.col("est").alias("est_b"))
    eu = hll_estimate(hll_union(regs_a, regs_b), p).select(
        F.col("est").alias("est_union"))
    one = ea.crossJoin(eb).crossJoin(eu)
    return one.select(
        "est_a", "est_b", "est_union",
        (F.col("est_a") + F.col("est_b") - F.col("est_union"))
        .alias("est_intersect"),
    )
