"""Temporal joins: as-of join and interval (range-overlap) join.

The reference engine inherits these from its host SQL engine (DuckDB ships
native ``ASOF JOIN`` and an IEJoin-backed range join; the spatial extension
relies on them for its trajectory/range workloads). Spark has neither as a
built-in logical operator, so this module re-expresses both as compositions
of DataFrame primitives that scale on a 1000-executor cluster:

``asof_join``
    The classic union-tag formulation: tag both inputs, union them, and run
    ONE window (``last(..., ignorenulls=True)``) ordered by (time, tag) so
    each left row sees the latest earlier right row.  One hash shuffle on
    the ``by`` keys — no range join, no per-row binary search, no driver
    state.  With no ``by`` key a naive window would collapse to a single
    partition, so the keyless path range-buckets the timeline instead:
    rows are bucketed by sampled time quantiles, the per-bucket carry-in
    (each bucket's last right row) is a bucket-count-sized aggregate that
    is collected once and broadcast back — the timeline sort never
    concentrates on one task.

``interval_join``
    The standard bucket-grid overlap join: each interval explodes to the
    fixed-width buckets it covers and candidates meet on (key, bucket).
    Each overlapping pair is emitted EXACTLY once without a distinct — the
    join keeps only the bucket containing ``greatest(l_start, r_start)``
    (every real overlap has exactly one such bucket).  Long intervals are
    the classic skew killer (one row → thousands of bucket copies), so rows
    spanning more than ``max_buckets_per_row`` buckets are split off and
    joined via a broadcast predicate join instead — they are rare by
    construction (the cap is ~256 bucket-widths) while the bulk stays on
    the shuffle-bounded grid path.

Reference parity: DuckDB ``ASOF JOIN`` semantics (latest right.ts <=
left.ts, ties matching) per duckdb docs/sql/query_syntax/from; range join
per the IEJoin paper (Khayyat et al., VLDB 2015) — both re-derived here as
shuffle-bounded Spark plans, not ports.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..runtime import epoch_micros
from ..sources.tables import local_relation

__all__ = ["asof_join", "funnel", "interval_join", "resample_ffill",
           "session_funnel", "sessionize"]


def _as_list(x) -> List[str]:
    if x is None:
        return []
    if isinstance(x, str):
        return [x]
    return list(x)


def _epoch_us(c: Column, dt: str) -> Column:
    """Exact epoch microseconds of column ``c`` of Spark type ``dt``.
    TIMESTAMP_NTZ wall time reads as UTC, so the session timezone never
    enters (a session-zone cast would reorder NTZ values around a
    daylight-saving gap); other types go through the TIMESTAMP cast."""
    if dt == "timestamp_ntz":
        return epoch_micros(c)
    return F.unix_micros(c.cast("timestamp"))


def _ord(c: Column, dt: str) -> Column:
    """Numeric ordering key: epoch µs for timestamps, else the value."""
    return _epoch_us(c, dt) if dt.startswith("timestamp") else c.cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: Optional[Sequence[str]] = None,
    value_cols: Optional[Sequence[str]] = None,
    direction: str = "backward",
    tolerance_us: Optional[int] = None,
    n_buckets: int = 64,
) -> DataFrame:
    """As-of join ``left`` to the temporally nearest ``right`` row.

    For every left row, attach the right row with the largest
    ``right_on`` <= ``left_on`` (``direction='backward'``, ties match —
    DuckDB ASOF semantics) or smallest ``right_on`` >= ``left_on``
    (``'forward'``), within the same ``by`` group.  ``value_cols`` (default:
    every non-key right column except ``right_on``) arrive suffixed as-is,
    plus ``matched_<right_on>`` with the matched timestamp (NULL when no
    match).  ``tolerance_us`` drops matches farther than the given number
    of microseconds (the time columns may be TimestampType or plain
    numerics; tolerance is interpreted in the column's own unit for
    numerics).

    Scale shape: one shuffle. Keyed: hash-partition on ``by``; each
    partition sorts once for the window. Keyless: the timeline is cut into
    ``n_buckets`` quantile buckets; the only global state is one
    ``n_buckets``-row aggregate (each bucket's last right row) collected
    and broadcast as the carry-in, so no single task ever holds the whole
    timeline.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    keys = _as_list(by)
    vals = _as_list(value_cols)
    if not vals:
        vals = [c for c in right.columns if c != right_on and c not in keys]
    overlap = [c for c in vals if c in left.columns]
    if overlap:
        raise ValueError(f"right value columns collide with left: {overlap}")

    ts_l = F.col(left_on)
    l_dt = dict(left.dtypes)[left_on]
    r_dt = dict(right.dtypes)[right_on]

    # Pack right values into ONE struct so the window propagates a whole
    # right ROW; per-column last(ignorenulls) could stitch values from
    # different right rows when a value column is legitimately NULL.
    payload = F.struct(
        F.col(right_on).alias("__rt"), *[F.col(v).alias(v) for v in vals]
    )
    lhs = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__tag"),
        _ord(ts_l, l_dt).alias("__ord"),
        F.lit(None).cast(
            right.select(payload.alias("p")).schema["p"].dataType
        ).alias("__p"),
    )
    # DuckDB ASOF never matches a right row whose ordering key is NULL.
    # Dropping them here also prevents a window hazard: a NULL __ord sorts
    # nulls-first under ascending order, so its payload would otherwise
    # propagate as a bogus "match" to every left row preceding the first
    # real right row (with matched_<right_on> NULL and tolerance unable to
    # filter it, since the distance is NULL too).
    rhs = right.filter(F.col(right_on).isNotNull()).select(
        *[F.col(k) for k in keys],
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
          for c in left.columns if c not in keys],
        F.lit(0).alias("__tag"),
        _ord(F.col(right_on), r_dt).alias("__ord"),
        payload.alias("__p"),
    )
    if keys:
        u = lhs.unionByName(rhs)
        order = [F.col("__ord"), F.col("__tag")]
        if direction == "forward":
            order = [F.col("__ord").desc(), F.col("__tag")]
        w = (
            Window.partitionBy(*[F.col(k) for k in keys])
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        u = u.withColumn("__m", F.last("__p", ignorenulls=True).over(w))
    else:
        u = lhs.unionByName(rhs)
        # Keyless: quantile-bucket the timeline so the sort distributes.
        bounds = u.approxQuantile(
            "__ord", [i / n_buckets for i in range(1, n_buckets)], 0.001
        )
        bounds = sorted(set(bounds))
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        u = u.withColumn(
            "__bkt", F.size(F.filter(barr, lambda b: b <= F.col("__ord")))
        )
        order = [F.col("__ord"), F.col("__tag")]
        if direction == "forward":
            order = [F.col("__ord").desc(), F.col("__tag")]
        w = (
            Window.partitionBy("__bkt")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        u = u.withColumn("__m", F.last("__p", ignorenulls=True).over(w))
        # Carry-in: per bucket, the payload of its extreme right row.  A
        # bucket-count-sized aggregate — collect once, cumulate driver-side,
        # broadcast back.  (max_by on __ord with __tag==0 rows only.)
        per_bkt = (
            u.filter(F.col("__tag") == 0)
            .groupBy("__bkt")
            .agg(
                (
                    F.max_by("__p", F.col("__ord"))
                    if direction == "backward"
                    else F.min_by("__p", F.col("__ord"))
                ).alias("__cp")
            )
            .collect()
        )
        by_b = {r["__bkt"]: r["__cp"] for r in per_bkt}
        total = len(bounds) + 1  # __bkt ranges over 0..len(bounds)
        scan = range(total) if direction == "backward" else reversed(
            range(total))
        # carry[b] = extreme right payload from buckets strictly before b
        # in scan order (earlier buckets for backward, later for forward).
        acc = None
        seen: dict = {}
        for b in scan:
            seen[b] = acc
            if b in by_b:
                acc = by_b[b]
        carry_rows = [
            (b, p) for b, p in seen.items() if p is not None
        ]
        if carry_rows:
            cdf = local_relation(
                u.sparkSession, carry_rows,
                u.select(F.col("__bkt"), F.col("__p").alias("__carry")).schema)
            u = u.join(F.broadcast(cdf), "__bkt", "left")
            u = u.withColumn("__m", F.coalesce(F.col("__m"), F.col("__carry")))
            u = u.drop("__carry")
        u = u.drop("__bkt")

    res = u.filter(F.col("__tag") == 1)
    matched_ord = _ord(F.col("__m.__rt"), r_dt)
    if tolerance_us is not None:
        dist = F.abs(F.col("__ord") - matched_ord)
        res = res.withColumn(
            "__m",
            F.when(dist <= F.lit(tolerance_us), F.col("__m")),
        )
    # A left row with a NULL ordering key never matches (DuckDB ASOF);
    # under forward order its NULL __ord sorts last and would otherwise
    # inherit the final payload.
    res = res.withColumn(
        "__m", F.when(F.col("__ord").isNotNull(), F.col("__m"))
    )
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.col("__m.__rt").alias(f"matched_{right_on}"))
    out_cols.extend(F.col(f"__m.{v}").alias(v) for v in vals)
    return res.select(*out_cols)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    by: Optional[Sequence[str]] = None,
    bucket_width: Optional[float] = None,
    max_buckets_per_row: int = 256,
    suffix: str = "_r",
    max_diverted_rows: int = 500_000,
) -> DataFrame:
    """Inner join on interval overlap: ``l_start <= r_end AND r_start <=
    l_end`` (closed intervals), optionally also equi-matching ``by`` keys.

    Scale shape: both sides explode onto a fixed-width bucket grid and meet
    with an equi-join on (keys..., bucket) — the overlap predicate never
    reaches a cross join.  Pair uniqueness comes from keeping only the
    bucket that contains ``greatest(l_start, r_start)`` — no distinct.
    Intervals longer than ``max_buckets_per_row`` buckets would each fan
    out into thousands of grid rows (the skew path), so they divert to a
    broadcast predicate join; the grid bulk stays one shuffle per side.
    ``bucket_width`` defaults to the median interval length of a sample
    (never below 1/4096 of the sampled span).
    """
    keys = _as_list(by)
    overlap = [c for c in right.columns if c in left.columns and c not in keys]
    right_renamed = right
    for c in overlap:
        right_renamed = right_renamed.withColumnRenamed(c, c + suffix)
    rs, re_ = (r_start + suffix if r_start in overlap else r_start,
               r_end + suffix if r_end in overlap else r_end)

    def _num(df: DataFrame, col: str) -> Column:
        return _ord(F.col(col), dict(df.dtypes)[col]).cast("double")

    lnum_s, lnum_e = _num(left, l_start), _num(left, l_end)
    rnum_s, rnum_e = _num(right_renamed, rs), _num(right_renamed, re_)

    if bucket_width is None:
        samp = (
            left.select((lnum_e - lnum_s).alias("len"), lnum_s.alias("s"),
                        lnum_e.alias("e"))
            .limit(20000)
        )
        qs = samp.approxQuantile(["len", "s", "e"], [0.5], 0.01)
        med = qs[0][0] if qs[0] else None
        span_s = qs[1][0] if qs[1] else 0.0
        span_e = qs[2][0] if qs[2] else 1.0
        bucket_width = max(
            float(med or 1.0), abs(span_e - span_s) / 4096.0, 1e-9
        )

    bw = float(bucket_width)
    lb = left.withColumn("__s", lnum_s).withColumn("__e", lnum_e)
    rb = right_renamed.withColumn("__s2", rnum_s).withColumn("__e2", rnum_e)

    def _with_buckets(df, s, e):
        return df.withColumn(
            "__b0", F.floor(F.col(s) / F.lit(bw)).cast("long")
        ).withColumn("__b1", F.floor(F.col(e) / F.lit(bw)).cast("long"))

    lb = _with_buckets(lb, "__s", "__e")
    rb = _with_buckets(rb, "__s2", "__e2")

    cap = int(max_buckets_per_row)
    l_short = lb.filter(F.col("__b1") - F.col("__b0") < cap)
    l_long = lb.filter(F.col("__b1") - F.col("__b0") >= cap)
    r_short = rb.filter(F.col("__b1") - F.col("__b0") < cap)
    r_long = rb.filter(F.col("__b1") - F.col("__b0") >= cap)

    le = l_short.withColumn(
        "__b", F.explode(F.sequence(F.col("__b0"), F.col("__b1")))
    ).drop("__b0", "__b1")
    re2 = r_short.withColumn(
        "__b", F.explode(F.sequence(F.col("__b0"), F.col("__b1")))
    ).drop("__b0", "__b1")

    cond = (
        (F.col("__s") <= F.col("__e2"))
        & (F.col("__s2") <= F.col("__e"))
        & (
            F.col("__b")
            == F.floor(F.greatest(F.col("__s"), F.col("__s2")) / F.lit(bw))
            .cast("long")
        )
    )
    join_keys = keys + ["__b"]
    grid = le.join(re2, on=join_keys, how="inner").filter(cond)

    out_cols = [c for c in left.columns] + [
        c for c in right_renamed.columns if c not in keys
    ]
    parts = [grid.select(*out_cols)]

    # Skew diversions: long intervals are few — broadcast them against the
    # other side's raw rows with the plain predicate.
    pred = (F.col("__s") <= F.col("__e2")) & (F.col("__s2") <= F.col("__e"))

    def _pred_join(a, b):
        j = a.join(F.broadcast(b), on=keys, how="inner") if keys else (
            a.crossJoin(F.broadcast(b)))
        return j.filter(pred).select(*out_cols)

    l_long_c = l_long.drop("__b0", "__b1")
    r_long_c = r_long.drop("__b0", "__b1")
    # Size-guard the diversion: with a badly chosen bucket_width (e.g. a
    # sampled median far below typical lengths) the "rare" long side can
    # be most of the table, and broadcasting it would OOM the executors
    # silently. BOTH sides are counted in ONE union job (two map-side-
    # combined counts) — the previous per-side limit(K+1).count() probes
    # cost a driver job barrier each and still scanned the full frame in
    # the common near-empty case (CollectLimit escalates to all
    # partitions when under the limit).
    cnt_rows = (
        l_long_c.select(F.lit(0).alias("__side"))
        .unionByName(r_long_c.select(F.lit(1).alias("__side")))
        .groupBy("__side").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    counts = {r["__side"]: r["n"] for r in cnt_rows}
    for side, n in (("left", counts.get(0, 0)), ("right", counts.get(1, 0))):
        if n > max_diverted_rows:
            raise ValueError(
                f"interval_join: >{max_diverted_rows} {side} intervals span"
                f" >= {cap} buckets (bucket_width={bw:g}) — the broadcast"
                " diversion tier would not fit. Pass a larger bucket_width"
                " (close to the typical interval length), raise"
                " max_buckets_per_row, or raise max_diverted_rows if the"
                " executors can hold the broadcast."
            )
    # all-right × broadcast(long-left), short-left × broadcast(long-right):
    # the LONG rows are the rare diverted side and must be the broadcast
    # argument — broadcasting the full right table would materialize it on
    # every executor even when no interval is long (review finding, round
    # 5). long×long pairs route only through the first part.
    parts.append(_pred_join(rb.drop("__b0", "__b1"), l_long_c))
    parts.append(_pred_join(l_short.drop("__b0", "__b1"), r_long_c))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.drop("__s", "__e", "__s2", "__e2")


def resample_ffill(
    df: DataFrame,
    key_cols,
    ts_col: str,
    value_cols,
    step_us: int,
    start_us: Optional[int] = None,
    end_us: Optional[int] = None,
) -> DataFrame:
    """Regularize an irregular time series: per key, one row per ``step_us``
    tick over [start, end], carrying the latest observation at-or-before
    the tick (forward fill; ticks before the first observation stay NULL).

    The gap-fill every time-series store ships (TimescaleDB
    time_bucket_gapfill + locf, InfluxDB fill(previous)) — expressed as
    grid generation (``sequence`` + explode: per-key row count is
    span/step, no driver loop) followed by :func:`asof_join` backward,
    so the whole thing is two narrow shuffles on the key.

    ``start_us``/``end_us`` default to the GLOBAL min/max of ``ts_col``
    (one tiny aggregate) so every key shares the same grid — the shape a
    downstream matrix/tensor export wants.  The time column must already
    be integer microseconds (use ``unix_micros`` upstream); the output
    grid column is ``tick_us``.
    """
    keys = _as_list(key_cols)
    vals = _as_list(value_cols)
    if start_us is None or end_us is None:
        row = df.agg(F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
                     ).collect()[0]
        if row["lo"] is None:  # empty (or all-NULL-ts) input: empty grid
            start_us, end_us = 0, 0
        else:
            start_us = int(row["lo"]) if start_us is None else start_us
            end_us = int(row["hi"]) if end_us is None else end_us
    grid = (
        df.select(*keys).distinct()
        .withColumn(
            "tick_us",
            F.explode(F.sequence(
                F.lit(start_us), F.lit(end_us), F.lit(int(step_us)))))
    )
    right = df.filter(F.col(ts_col).isNotNull()).select(
        *keys, F.col(ts_col).alias("__obs_ts"), *vals)
    return asof_join(
        grid, right, "tick_us", "__obs_ts", by=keys, value_cols=vals,
    ).withColumnRenamed("matched___obs_ts", "obs_ts")


def sessionize(
    df: DataFrame,
    by,
    ts_col: str,
    gap_us: int,
    order_cols=None,
) -> DataFrame:
    """Batch sessionization: assign each row a per-key ``session_id``
    (0-based, in time order) where a new session starts whenever the gap
    to the previous event exceeds ``gap_us`` microseconds — the batch
    twin of the streaming session operator (streaming/ops.py) and of
    every analytics store's SESSION window (Snowflake SESSIONIZE /
    Flink session windows).

    Scale shape: ONE shuffle on the keys; the boundary flag and its
    running sum are a single window pass (two frames over the same sort,
    no second shuffle). The ordering is made total with ``order_cols``
    (ties on ``ts_col`` would otherwise make session numbering
    nondeterministic under retry) — pass the row's unique id there.

    ``ts_col`` must be integer microseconds (unix_micros upstream), the
    repo-wide convention that keeps engines bit-identical.
    """
    keys = _as_list(by)
    order = [F.col(ts_col)] + [F.col(c) for c in _as_list(order_cols or [])]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    new_sess = F.when(
        prev.isNull() | (F.col(ts_col) - prev > F.lit(int(gap_us))),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        "session_id", (F.sum(new_sess).over(run) - F.lit(1)).cast("long")
    )


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_us: Optional[int] = None,
) -> DataFrame:
    """Ordered-funnel analysis (the view→click→purchase question every
    event pipeline asks): for each user, how deep into ``steps`` did
    they get, matching each step to its EARLIEST event strictly after
    the previous step's match (greedy earliest-match — the standard
    analytics-engine semantics; with ``within_us`` the whole funnel
    must complete within that window of the step-1 match; greedy can
    understate constrained completions that would need a later start,
    which is the same trade every analytics engine makes and the
    oracle replays identically).

    Output: one row per user who hit step 1 — (user, steps_completed,
    t_first_us, t_last_us), ``t_last_us`` = the deepest matched step's
    time.

    Scale: K-1 user-keyed joins of min-aggregated (user, ts) frames —
    each stage shuffles one row per surviving user, never the event
    mass; the event table is scanned once per step with the step filter
    pushed to the scan.
    """
    steps = list(steps)
    if not steps:
        raise ValueError("funnel: empty steps")
    # integer µs are exact; a double round-trip could drift a µs vs the
    # oracle's epoch_us
    us = _epoch_us(F.col(ts_col), dict(df.dtypes)[ts_col])
    ev = df.select(F.col(user_col).alias("__u"),
                   F.col(type_col).alias("__t"),
                   us.cast("long").alias("__us"))
    cur = (ev.filter(F.col("__t") == steps[0])
           .groupBy("__u").agg(F.min("__us").alias("__s1")))
    reached = cur.select("__u", F.lit(1).alias("__depth"),
                         F.col("__s1"), F.col("__s1").alias("__last"))
    prev = cur.select("__u", F.col("__s1"), F.col("__s1").alias("__p"))
    for i, s in enumerate(steps[1:], start=2):
        # shuffle_hash hint: the per-user min-frame is corpus-derived,
        # so the planner's auto-broadcast would pay a broadcast-BUILD
        # job per step that re-executes everything upstream of prev
        # (q152 measured two 440 ms builds, each re-running the
        # sessionize window); the user-keyed shuffle join is also the
        # scale-correct plan — prev is user-count-sized, not small.
        nxt = ev.filter(F.col("__t") == s) \
            .join(prev.hint("shuffle_hash"), "__u") \
            .filter(F.col("__us") > F.col("__p"))
        if within_us is not None:
            nxt = nxt.filter(F.col("__us")
                             <= F.col("__s1") + F.lit(int(within_us)))
        hit = nxt.groupBy("__u").agg(
            F.min("__us").alias("__p2"), F.max("__s1").alias("__s1b"))
        prev = hit.select("__u", F.col("__s1b").alias("__s1"),
                          F.col("__p2").alias("__p"))
        step_rows = prev.select("__u", F.lit(i).alias("__depth"),
                                F.col("__s1"), F.col("__p").alias("__last"))
        reached = reached.unionByName(step_rows)
    from pyspark.sql import Window as _W

    w = _W.partitionBy("__u").orderBy(F.col("__depth").desc())
    return (
        reached.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(F.col("__u").alias(user_col),
                F.col("__depth").cast("int").alias("steps_completed"),
                F.col("__s1").alias("t_first_us"),
                F.col("__last").alias("t_last_us"))
    )


def session_funnel(
    df: DataFrame,
    steps: Sequence[str],
    key_col: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Greedy earliest-match funnel per BOUNDED group (session) in ONE
    partition pass — same semantics and output schema as :func:`funnel`
    keyed on ``key_col``, different plan for a different input shape.

    :func:`funnel` scans the event source once per step with the step
    filter pushed to the scan — right when the input IS a scan. In the
    sessionize∘funnel composition the input already carries a window
    (the sessionizer), so each of funnel's K step-scans RE-EXECUTES
    that window and the K-1 joins shuffle on top (q152 measured 1.7 s
    warm: three window recomputes + two shuffle-hash joins). Here the
    K sequential mins

        s_i = min{ t : type = step_i ∧ t > s_{i-1} }

    are CHAINED UNORDERED WINDOW MINS over the same partitioning — K
    cheap frame passes with no re-sort (same window spec), zero joins,
    then a co-partitioned per-key aggregate (no extra exchange).
    ``key_col`` may be a LIST: when the keys refine a partitioning the
    input already carries (sessionize's user hash satisfies
    ClusteredDistribution(user, session) — hash keys ⊆ clustering
    keys), the whole funnel adds NO exchange at all, only a partition-
    local re-sort. Groups are sessions, bounded by the session gap —
    partition skew is capped by construction, the 100-TB shape. q152
    went 1.7 s / 2 big exchanges → one job / one exchange, ~0.8 s.

    Output: one row per key that hit step 1 — (*keys, steps_completed,
    t_first_us, t_last_us), same schema family as :func:`funnel`.
    """
    steps = list(steps)
    if not steps:
        raise ValueError("session_funnel: empty steps")
    keys = _as_list(key_col)
    us = _epoch_us(F.col(ts_col), dict(df.dtypes)[ts_col])
    d = df.select(*[F.col(c) for c in keys],
                  F.col(type_col).alias("__t"),
                  us.cast("long").alias("__us"))
    w = Window.partitionBy(*[F.col(c) for c in keys])
    for i, s in enumerate(steps, start=1):
        cond = F.col("__t") == s
        if i > 1:
            # null s_{i-1} makes the comparison null → excluded → s_i
            # stays null: depth is monotone with no explicit guard
            cond = cond & (F.col("__us") > F.col(f"__s{i - 1}"))
        d = d.withColumn(
            f"__s{i}", F.min(F.when(cond, F.col("__us"))).over(w))
    k = len(steps)
    scols = [f"__s{i}" for i in range(1, k + 1)]
    per = d.groupBy(*keys).agg(
        *[F.max(c).alias(c) for c in scols])
    depth = F.when(F.col(scols[-1]).isNotNull(), F.lit(k))
    for i in range(k - 1, 0, -1):
        depth = depth.when(F.col(scols[i - 1]).isNotNull(), F.lit(i))
    return (
        per.filter(F.col("__s1").isNotNull())
        .select(*[F.col(c) for c in keys],
                depth.cast("int").alias("steps_completed"),
                F.col("__s1").alias("t_first_us"),
                F.coalesce(*[F.col(c) for c in reversed(scols)])
                 .alias("t_last_us"))
    )
