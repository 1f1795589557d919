"""Structured Streaming spatial operators (SURVEY §2.J note: the reference
has no streaming; this is the Spark-native extension the model classification
§1.5 predicted is nearly free).

Every scalar ST_* function is stateless → usable in a stream unchanged.
``ST_Extent_Agg`` decomposes into min/max → watermark-compatible windowed
aggregation with no custom state store. Stream-static spatial joins reuse
the broadcast probe (mapInArrow is streaming-safe); bespoke state goes
through ``applyInPandasWithState``. A bounded stream is run to its end and
read back with :func:`drain`.
"""

from __future__ import annotations

import uuid
from typing import Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..runtime import scoped_conf


def drain(stream: DataFrame, mode: str, *,
          state_partitions: int = None) -> DataFrame:
    """Run ``stream`` over all the input available now, in one
    ``availableNow`` pass into a memory sink with output ``mode``, and
    return the sink's rows. The frame is analyzed before the sink's temp
    view is dropped, so it keeps the rows and the catalog keeps no view,
    also when the stream fails (its error is raised here).

    ``state_partitions`` sets ``spark.sql.shuffle.partitions`` for the
    pass, which fixes the partition count of the stream's state; without
    it the session's value applies. Session conf is as before afterwards.

    No-data micro-batches are always off. In a bounded pass such a batch
    only advances the watermark and fires timeouts: it evicts state the
    pass discards anyway (an inner interval join has emitted its pairs in
    the data batch) or re-emits rows update mode already gave (a closed
    ``ProcessingTimeTimeout`` session's last extents), at the cost of one
    more round of planning and state commits. A ``ProcessingTimeTimeout``
    state even fires empty batches without end, so the pass would never
    terminate. The one limit: output that Spark emits only in a trailing
    no-data batch is not returned — e.g. an append-mode windowed
    aggregation whose windows only the final watermark closes.
    """
    spark = stream.sparkSession
    sink = f"dss_drain_{uuid.uuid4().hex}"
    conf = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}
    if state_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = state_partitions
    try:
        # the conf is read per batch, so the wait stays inside the scope
        with scoped_conf(spark, conf):
            (stream.writeStream.format("memory").queryName(sink)
             .outputMode(mode).trigger(availableNow=True).start()
             .awaitTermination())
        return spark.table(sink)
    finally:
        spark.catalog.dropTempView(sink)


def streaming_point_filter(stream: DataFrame, x: str, y: str,
                           xmin: float, ymin: float, xmax: float, ymax: float,
                           strict: bool = True) -> DataFrame:
    """Envelope filter on a stream — same col-expr as the batch fast path."""
    from ..functions.scalar import st_point_in_box

    return stream.filter(st_point_in_box(x, y, xmin, ymin, xmax, ymax, strict=strict))


def streaming_extent_agg(
    stream: DataFrame,
    ts_col: str,
    x: str,
    y: str,
    window: str = "5 minutes",
    slide: str = None,
    watermark: str = "10 minutes",
    group_cols=(),
) -> DataFrame:
    """Windowed bbox aggregation over a point stream: the streaming form of
    ST_Extent_Agg (decomposable min/max ⇒ append-mode safe with watermark)."""
    w = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(w.alias("window"), *group_cols)
        .agg(
            F.min(x).alias("xmin"),
            F.min(y).alias("ymin"),
            F.max(x).alias("xmax"),
            F.max(y).alias("ymax"),
            F.count("*").alias("n"),
        )
    )


def streaming_spatial_join(
    stream: DataFrame,
    static_right: DataFrame,
    predicate: str = "within",
    left_geom: str = "geom",
    right_geom: str = "geom",
) -> DataFrame:
    """Stream-static spatial join: the static (dimension) side is probed
    to the driver as one Arrow table (at most ``runtime.LOCAL_ROW_LIMIT``
    rows) and broadcast once, each micro-batch probes it through the same
    mapInArrow grid probe as the batch ``st_join_broadcast`` — the
    streaming analog of the reference's prepared-geometry constant path.
    Works in append mode with no state store (per-row enrichment)."""
    from ..operators.join import st_join_broadcast

    return st_join_broadcast(
        stream, static_right, predicate, left_geom, right_geom
    )


def streaming_dedup_exact(
    stream: DataFrame,
    text_col: str,
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for training-data ingestion: fingerprint the
    normalized text (xxhash64 col-expr) and dropDuplicates within the
    watermark — bounded state, the streaming tier of ``exact_dedup``."""
    from ..operators.textops import fingerprint

    return (
        stream.withColumn("__fp", fingerprint(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )


def streaming_neardup_dedup(
    stream: DataFrame,
    text_col: str,
    ts_col: str,
    watermark: str = "1 hour",
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Streaming NEAR-duplicate suppression: minhash-band signature
    (shingle→minhash→band, all col-expr) and dropDuplicates on the banded
    signature within the watermark — the streaming tier of
    ``minhash_dedup``. A document sharing any full band with a recent one
    is dropped, so near-duplicates collapse with bounded state (band
    signatures expire with the watermark). Conservative direction: only
    the FIRST band is used as the dedup key so a row is dropped only on a
    band-0 collision — one key per row keeps dropDuplicates semantics
    exact; more aggressive multi-band suppression belongs in the batch
    compaction pass."""
    from ..operators.dedup import minhash_signature

    rows_per_band = num_hashes // bands
    # only band 0 is the dedup key, so only its rows_per_band hashes are
    # computed — minhash_signature re-derives the shingle array per seed,
    # so asking for all num_hashes would pay bands x the per-row cost for
    # hashes that are immediately sliced away
    sig = minhash_signature(F.col(text_col), k=k, num_hashes=rows_per_band)
    band0 = F.slice(sig, 1, rows_per_band).cast("array<string>")
    return (
        stream.withColumn("__band0", F.concat_ws("|", band0))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__band0"])
        .drop("__band0")
    )


def streaming_hamming_dedup(
    stream: DataFrame,
    hash_col: str,
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming duplicate suppression over an integer fingerprint column
    (the 64-bit image aHash / audio energy-delta signature): drop rows
    whose EXACT fingerprint was seen inside the watermark. Perceptual
    hashes already collapse re-encoded/rescaled copies to the same 64
    bits, so this catches the common duplicate mass with bounded state.

    Deliberately NOT keyed on a sub-band: an 8-bit band has only 256
    possible values, so any real stream saturates the key space and
    unrelated rows get dropped as "duplicates". Near-duplicate
    suppression (hamming > 0) cannot be expressed as one dropDuplicates
    key without false positives — it belongs in the batch compaction
    pass, where ``hamming_neardup_pairs`` verifies candidates exactly."""
    return (
        stream.withColumn("__hfp", F.col(hash_col).cast("long"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__hfp"])
        .drop("__hfp")
    )


_SESSION_STATE_SCHEMA = "xmin double, ymin double, xmax double, ymax double, n long"
_SESSION_OUT_SCHEMA = (
    "key string, xmin double, ymin double, xmax double, ymax double, n long, closed boolean"
)


def streaming_session_extents(
    stream: DataFrame,
    key_col: str,
    x: str,
    y: str,
    ts_col: str,
    watermark: str = "10 minutes",
    timeout: str = "5 minutes",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running bbox + count of a point stream ("where has this entity been"),
    emitting the closed session extent when the key goes idle past the
    processing-time timeout. The state is 5 doubles — the same partial the
    batch ST_Extent_Agg combine uses."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    timeout_ms = _duration_ms(timeout)

    def update(key: Tuple[str], pdfs, state: GroupState):
        if state.hasTimedOut:
            xmin, ymin, xmax, ymax, n = state.get
            state.remove()
            yield pd.DataFrame(
                [[key[0], xmin, ymin, xmax, ymax, n, True]],
                columns=["key", "xmin", "ymin", "xmax", "ymax", "n", "closed"],
            )
            return
        xs, ys, cnt = [], [], 0
        for pdf in pdfs:
            xs.append(pdf[x].min()); xs.append(pdf[x].max())
            ys.append(pdf[y].min()); ys.append(pdf[y].max())
            cnt += len(pdf)
        lo_x, hi_x = float(min(xs)), float(max(xs))
        lo_y, hi_y = float(min(ys)), float(max(ys))
        if state.exists:
            pxmin, pymin, pxmax, pymax, pn = state.get
            lo_x, lo_y = min(lo_x, pxmin), min(lo_y, pymin)
            hi_x, hi_y = max(hi_x, pxmax), max(hi_y, pymax)
            cnt += pn
        state.update((lo_x, lo_y, hi_x, hi_y, cnt))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [[key[0], lo_x, lo_y, hi_x, hi_y, cnt, False]],
            columns=["key", "xmin", "ymin", "xmax", "ymax", "n", "closed"],
        )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def _duration_ms(s: str) -> int:
    parts = s.strip().split()
    val = float(parts[0])
    unit = parts[1].lower() if len(parts) > 1 else "ms"
    mult = {
        "ms": 1, "millisecond": 1, "milliseconds": 1,
        "second": 1000, "seconds": 1000, "sec": 1000, "s": 1000,
        "minute": 60_000, "minutes": 60_000, "min": 60_000, "m": 60_000,
        "hour": 3_600_000, "hours": 3_600_000, "h": 3_600_000,
    }[unit]
    return int(val * mult)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join — the impressions↔clicks shape: rows
    join when keys match and ``right_ts ∈ [left_ts + lower, left_ts +
    upper]``. Both sides watermarked, so Spark bounds the join state to
    the interval + watermark window (state is purged as event time
    advances — the 100-TB-stream property that makes this runnable
    forever). Inner join, append mode.

    Column names must be disjoint apart from ``key``.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (F.col(right_ts) >= F.col(left_ts) + F.expr(f"INTERVAL {lower}"))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, "inner").drop(r[key])


def streaming_count_min(
    stream: DataFrame,
    item: Column,
    ts_col: str,
    depth: int = 4,
    width: int = 1024,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming count-min sketch: per event-time window, the depth×width
    cell table of the batch :func:`~..operators.sketch.count_min_sketch`
    as a watermarked streaming aggregation.  State is bounded at
    depth·width rows per open window regardless of stream rate — the
    whole point of sketching a stream — and each emitted window's cells
    merge with any other sketch (batch or stream) by cell-wise sum.
    Output: (window, row, col, cnt) in append mode once the watermark
    closes the window."""
    from ..operators.sketch import _cms_col

    parts = None
    for d in range(depth):
        p = stream.select(
            F.col(ts_col),
            F.lit(d).alias("row"),
            _cms_col(item, d, width).alias("col"),
        )
        parts = p if parts is None else parts.unionByName(p)
    return (
        parts.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), "row", "col")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def streaming_hll(
    stream: DataFrame,
    item: Column,
    ts_col: str,
    p: int = 10,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming HyperLogLog: per event-time window, the same registers
    as the batch :func:`~..operators.sketch.hll_registers` — a
    watermarked max aggregation whose state is ≤ 2^p rows per open
    window at any stream rate.  Emitted windows merge with batch or
    other stream sketches by register-wise max (``hll_union``), and
    :func:`~..operators.sketch.hll_estimate` reads them unchanged.
    Output: (window, bucket, reg) in append mode at window close."""
    from ..operators.sketch import _W, _hex_long

    m = 1 << p
    h = F.md5(item)
    bucket = (_hex_long(h, 1, 4) % F.lit(m)).cast("int")
    v = _hex_long(h, 5, 12)
    rho = F.when(v == 0, F.lit(_W + 1)).otherwise(
        F.lit(_W + 1) - F.length(F.bin(v))).cast("int")
    return (
        stream.select(F.col(ts_col), bucket.alias("bucket"),
                      rho.alias("rho"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def streaming_index_append(
    stream: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_size: int = 100_000,
    checkpoint: str = None,
    available_now: bool = True,
):
    """Structured-Streaming maintenance of the scored inverted index:
    every micro-batch lands as a NEW GENERATION via
    ``scored_index_append`` (fresh posting + stats files only — the
    existing index is never read), so ``bm25_search`` over the index is
    exact after each batch commits: document frequency and (N, avgdl)
    aggregate across generations at query time, which is precisely what
    makes the layout streaming-appendable without a rebuild.

    foreachBatch is the canonical bridge to a non-streaming sink.
    Delivery is at-least-once on batch RETRY (a replayed batch would
    double-append its docs — same non-transactional story as
    ``st_cluster_append``); pair with a transactional table format when
    exactly-once matters. Returns the started StreamingQuery.
    """
    from ..operators.invindex import scored_index_append

    def append(batch_df: DataFrame) -> None:
        # num_partitions=1: a micro-batch generation is SMALL by
        # definition, so it lands as one sorted file — same small-file
        # discipline as streaming_cluster/zorder_append — and
        # repartitionByRange(1, ...) has no range bounds to estimate,
        # which skips the range-partitioner SAMPLING job every batch
        # would otherwise pay (measured: 2 jobs → 1 for the postings
        # write). Term pruning still works: the single file is
        # (term, seg)-sorted, so row-group min/max stats stay tight.
        scored_index_append(batch_df, path, id_col=id_col,
                            text_col=text_col, segment_size=segment_size,
                            num_partitions=1)

    return _foreach_batch_append(stream, append, checkpoint, available_now)


def _foreach_batch_append(stream: DataFrame, append, checkpoint,
                          available_now: bool):
    import tempfile

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append(batch_df)

    w = stream.writeStream.foreachBatch(_append).option(
        "checkpointLocation",
        checkpoint or tempfile.mkdtemp(prefix="dss_layout_ckpt_"))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _small_parquet_files(path: str, small_file_bytes: int) -> int:
    import glob as _glob
    import os

    return sum(
        1 for f in _glob.glob(os.path.join(path, "*.parquet"))
        if os.path.getsize(f) < small_file_bytes
    )


def _append_with_auto_compact(append_fn, compact_fn, path: str,
                              auto_compact_files: int,
                              small_file_bytes: int):
    """The shared self-bounding ingest hook: append the batch, then run
    the minor compaction inline once the small-file population reaches
    the threshold (0 = opt out). One policy, both layout kinds."""
    def _ingest(b: DataFrame) -> None:
        append_fn(b)
        if auto_compact_files and _small_parquet_files(
                path, small_file_bytes) >= auto_compact_files:
            compact_fn(b.sparkSession)

    return _ingest


def streaming_cluster_append(
    stream: DataFrame,
    path: str,
    x: str,
    y: str,
    extent=None,
    checkpoint: str = None,
    available_now: bool = True,
    auto_compact_files: int = 16,
    small_file_bytes: int = 16 << 20,
):
    """Continuous ingest into a Hilbert-clustered layout: every
    micro-batch lands as fresh hilbert-sorted files via
    ``st_cluster_append`` (existing files never read; queries correct
    after each commit). Pass ``extent`` so batch keys share the
    dataset's grid — per-batch extents only affect locality, never
    correctness. At-least-once on batch retry, like every
    non-transactional append here. Returns the StreamingQuery.

    Generation growth is SELF-BOUNDING: once the layout holds
    ``auto_compact_files`` small files (< ``small_file_bytes``), the
    batch hook runs :func:`st_cluster_compact` inline before returning,
    so scan cost stays linear in data size no matter how many batches
    arrive (the unbounded-generations probe measured 7× super-linear
    growth at 10× generations without this). Set
    ``auto_compact_files=0`` to opt out and schedule compaction
    offline."""
    from ..operators.cluster import st_cluster_append, st_cluster_compact

    ingest = _append_with_auto_compact(
        lambda b: st_cluster_append(b, path, x, y, extent=extent),
        lambda s: st_cluster_compact(s, path, x, y,
                                     small_file_bytes=small_file_bytes,
                                     extent=extent),
        path, auto_compact_files, small_file_bytes)
    return _foreach_batch_append(stream, ingest, checkpoint,
                                 available_now)


def streaming_zorder_append(
    stream: DataFrame,
    path: str,
    cols,
    ranges=None,
    checkpoint: str = None,
    available_now: bool = True,
    auto_compact_files: int = 16,
    small_file_bytes: int = 16 << 20,
):
    """The multi-column twin of :func:`streaming_cluster_append`:
    micro-batches land as Morton-sorted generation files via
    ``zorder_append``. Pass ``ranges`` to share the dataset's key grid
    across batches (locality only — correctness never depends on it).
    Same self-bounding compaction contract: ``auto_compact_files``
    small files trigger an inline :func:`zorder_compact` (0 = opt
    out)."""
    from ..operators.zorder import zorder_append, zorder_compact

    ingest = _append_with_auto_compact(
        lambda b: zorder_append(b, path, cols, ranges=ranges),
        lambda s: zorder_compact(s, path, cols,
                                 small_file_bytes=small_file_bytes,
                                 ranges=ranges),
        path, auto_compact_files, small_file_bytes)
    return _foreach_batch_append(stream, ingest, checkpoint,
                                 available_now)


# n_seen counts the user's events ACCEPTED under allowed lateness —
# rows below the event-time watermark are dropped on entry (see
# streaming_funnel's update) and are NOT counted. A consumer counting
# all delivered events will diverge from n_seen exactly on late data;
# the out-of-order tests pin this accepted-only contract.
_FUNNEL_OUT_SCHEMA = ("user_id long, depth int, t_first_us long, "
                      "t_last_us long, n_seen long")
_FUNNEL_STATE_SCHEMA = ("s1 array<long>, s2 array<long>, s3 array<long>, "
                        "n_seen long")


def _funnel_compact(t1s, t2s, t3s, wm_us):
    """Output-neutral funnel-state eviction (see
    :func:`streaming_funnel`): drop every stored time that can never
    change a future greedy match. ``wm_us`` is the event-time
    watermark in µs — the operator drops rows below it on entry
    (``update`` in :func:`streaming_funnel`), so every FUTURE event has
    time ≥ ``wm_us`` and a match below the watermark is frozen."""
    if not t1s:
        return t1s, t2s, t3s
    m1 = min(t1s)
    t1s = [m1]                            # only the min is ever read
    elig2 = [t for t in t2s if t > m1]
    m2 = min(elig2) if elig2 else None
    if m2 is not None:
        t2s = [t for t in t2s if t <= m2]  # above the match: dead
    if wm_us > m1:                         # m1 frozen by watermark
        t2s = [t for t in t2s if t > m1]
    if m2 is not None:
        elig3 = [t for t in t3s if t > m2]
        m3 = min(elig3) if elig3 else None
        if m3 is not None:
            t3s = [t for t in t3s if t <= m3]
        if wm_us > m2:                     # m2 frozen by watermark
            t3s = [t for t in t3s if t > m2]
    elif wm_us > m1:
        # No step-2 match yet and m1 is frozen: t2s holds nothing above
        # m1 (filtered just above) and every future event arrives
        # ≥ wm_us, so any FUTURE step-2 match is ≥ wm_us — a step-3
        # time ≤ wm_us can never become strictly greater than it.
        # Without this a user stuck at depth 1 with a high-volume
        # step-3 event type retains every step-3 timestamp forever
        # (ADVICE r9 — unbounded state, output unaffected).
        t3s = [t for t in t3s if t > wm_us]
    return t1s, t2s, t3s


def streaming_funnel(
    stream: DataFrame,
    steps,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming ordered-funnel via ``applyInPandasWithState`` — the
    stateful twin of ``operators.temporal.funnel`` (greedy
    earliest-match, exactly 3 steps). Per user, the state holds the
    sorted step-relevant event times seen so far; each batch merges its
    events and recomputes the greedy matches from scratch, so the
    emitted depth is EXACTLY the batch funnel over the prefix of the
    stream — depth and n_seen are monotone per user, making the final
    update row per user the final answer (how the oracle checks it).
    ``n_seen`` counts only events accepted under the allowed-lateness
    bound — rows below the watermark are dropped before they are
    counted (the contract stated on ``_FUNNEL_OUT_SCHEMA``).

    State size — bounded, output-neutral eviction each update:

    * step-1 keeps only its minimum (the greedy match never reads
      anything else);
    * step-k times above the current step-k match are dropped (the
      eligibility set only grows as earlier step-(k-1) events arrive,
      so its minimum only decreases — larger values can never win);
    * once the event-time watermark passes the step-(k-1) match, that
      match is frozen, so step-k times at or below it are dead and
      evicted. The operator itself drops below-watermark rows on entry:
      Spark only auto-drops late rows for AGGREGATIONS, not for
      arbitrary stateful operators, and the freeze argument requires
      that no sub-watermark event can still arrive — so the
      allowed-lateness contract is enforced here.

    After the watermark passes a user's matches, their state is three
    ≤1-element lists; before that it is bounded by the user's events
    inside the allowed-lateness window — never the full stream. Every
    eviction is provably unable to change any future output, so batch
    parity (which the tests pin) is exact.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if len(list(steps)) != 3:
        raise ValueError("streaming_funnel: exactly 3 steps supported")
    s_a, s_b, s_c = list(steps)

    def greedy(t1s, t2s, t3s):
        if not t1s:
            return 0, None, None
        m1 = min(t1s)
        elig2 = [t for t in t2s if t > m1]
        if not elig2:
            return 1, m1, m1
        m2 = min(elig2)
        elig3 = [t for t in t3s if t > m2]
        if not elig3:
            return 2, m1, m2
        return 3, m1, min(elig3)

    def update(key, pdfs, state: GroupState):
        # Spark does NOT drop below-watermark rows for arbitrary
        # stateful operators (it only does for aggregations) — enforce
        # the allowed-lateness contract HERE, because the state
        # eviction's correctness proof depends on it: a frozen match
        # assumes no earlier event can still arrive. Found by the
        # round-9 multi-batch out-of-order test.
        wm_us = state.getCurrentWatermarkMs() * 1000
        t1s, t2s, t3s, n = ([], [], [], 0)
        if state.exists:
            p1, p2, p3, n = state.get
            t1s, t2s, t3s = list(p1), list(p2), list(p3)
        for pdf in pdfs:
            if wm_us > 0:
                pdf = pdf[pdf["__us"] >= wm_us]
            n += len(pdf)
            tt = pdf[type_col]
            us = pdf["__us"]
            t1s.extend(int(v) for v in us[tt == s_a])
            t2s.extend(int(v) for v in us[tt == s_b])
            t3s.extend(int(v) for v in us[tt == s_c])
        depth, tf, tl = greedy(t1s, t2s, t3s)
        t1s, t2s, t3s = _funnel_compact(t1s, t2s, t3s, wm_us)
        state.update((t1s, t2s, t3s, n))
        yield pd.DataFrame(
            [[int(key[0]), depth, tf, tl, n]],
            columns=["user_id", "depth", "t_first_us", "t_last_us",
                     "n_seen"],
        )

    ev = stream.withWatermark(ts_col, watermark).select(
        F.col(user_col).alias("user_id"),
        F.col(type_col),
        F.unix_micros(F.col(ts_col)).cast("long").alias("__us"),
        F.col(ts_col),
    )
    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_FUNNEL_OUT_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# the streaming pool's output row: n_seen counts the window's vectors
# merged so far (monotone per window — the LAST update per window is
# the batch answer over the window's full data)
_MMR_OUT_SCHEMA = ("win long, n_seen long, rank int, id long, "
                   "rel double, mmr double")
_MMR_STATE_SCHEMA = ("ids array<long>, rels array<double>, "
                     "vecs array<array<double>>, n_seen long")


def streaming_mmr_rerank(
    stream: DataFrame,
    query_vec,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ts_col: str = "ts",
    k: int = 8,
    pool: int = 32,
    lam: float = 0.7,
    window: str = "1 hour",
) -> DataFrame:
    """Streaming Maximal-Marginal-Relevance re-ranking per event-time
    window — the stateful twin of ``operators.rank.mmr_rerank`` (same
    λ-tradeoff greedy, same 6-dp rounding and id tie-breaks, via the
    SHARED ``mmr_greedy``). Relevance is computed in-plan (one codegen
    cosine against the broadcast-literal query vector, rounded to 6 dp);
    per window the state keeps only the ``pool`` best candidates by
    (rel DESC, id ASC) — top-``pool`` selection is ASSOCIATIVE under
    that total order (top-P(top-P(A) ∪ B) = top-P(A ∪ B)), so after the
    last micro-batch the pool equals the batch pool and the emitted
    selection equals the batch MMR exactly (how the oracle checks it).

    State per window: ≤ ``pool`` (id, rel, vector) triples + a count —
    bounded by parameters, never by stream volume. Null vectors never
    rank (the ANN-kernel contract). Output rows carry ``n_seen`` (the
    window's merged vector count, monotone) so the final update per
    window is selectable downstream.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.rank import mmr_greedy
    from ..operators.similarity import cosine_similarity

    q = [float(x) for x in query_vec]
    rel = F.round(
        cosine_similarity(F.col(vec_col),
                          F.array(*[F.lit(x) for x in q])), 6)
    # the ANN-kernel null contract covers the key too: a null id would
    # reach the pandas state update where int(NaN) raises at runtime
    ev = (
        stream.filter(F.col(vec_col).isNotNull()
                      & F.col(id_col).isNotNull())
        .select(
            F.unix_seconds(F.window(F.col(ts_col), window)["start"])
             .cast("long").alias("win"),
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("e"),
            rel.alias("rel"),
        )
    )

    def update(key, pdfs, state: GroupState):
        ids, rels, vecs, n = [], [], [], 0
        if state.exists:
            p_ids, p_rels, p_vecs, n = state.get
            ids = list(p_ids)
            rels = list(p_rels)
            vecs = [list(v) for v in p_vecs]
        for pdf in pdfs:
            n += len(pdf)
            ids.extend(int(v) for v in pdf["id"])
            rels.extend(float(v) for v in pdf["rel"])
            vecs.extend([float(x) for x in v] for v in pdf["e"])
        order = sorted(range(len(ids)),
                       key=lambda i: (-rels[i], ids[i]))[:pool]
        ids = [ids[i] for i in order]
        rels = [rels[i] for i in order]
        vecs = [vecs[i] for i in order]
        state.update((ids, rels, vecs, n))
        # +0.0 normalizes IEEE -0.0 out of the rounded relevance (the
        # SQL twin's outputs are +0.0-normalized the same way)
        cand = {i: (r + 0.0, e) for i, r, e in zip(ids, rels, vecs)}
        rows = mmr_greedy(cand, k, lam)
        yield pd.DataFrame(
            [[int(key[0]), n, rank, i, r, s] for rank, i, r, s in rows],
            columns=["win", "n_seen", "rank", "id", "rel", "mmr"])

    return ev.groupBy("win").applyInPandasWithState(
        update,
        outputStructType=_MMR_OUT_SCHEMA,
        stateStructType=_MMR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
