"""Shared runtime mechanisms: scoped session conf, input-sized partition
counts, the one bounded probe, the small-result sort and timezone-free
event time.

:func:`probe_arrow` is the one bounded probe: every guard that decides
whether an operator finishes in the driver or stays in Spark reads its
input through it, in one job. :data:`LOCAL_ROW_LIMIT` is the default
guard between an operator's in-process tier and its distributed tier;
tests force the distributed tiers by setting it to 0.

Session conf is shared by every thread of a SparkSession. The engine
changes it only inside :func:`scoped_conf`, whose one caller is
``streaming.drain``, for the span of one stream drain, so it assumes one
query is built and run at a time per session.
"""

from __future__ import annotations

import contextlib
from typing import Optional, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["LOCAL_ROW_LIMIT", "adaptive_partitions", "epoch_micros",
           "probe_arrow", "probe_pairs",
           "probe_sorted", "scoped_conf", "small_sort", "utc_timestamp"]

# Rows an operator may finish in the driver process. Read at call time, so
# tests can patch it. Set from random graphs of 0.25M-4M edges, local[4]:
# the in-process k-core and label propagation take 2-5x less CPU and
# 1.7-3x less wall time than the distributed loops at every size, and
# in-process BFS's wall time meets the distributed one at about 2M edges.
# At 2M edges the driver's Python RSS peaks ~0.42 GB higher (label
# propagation), and it grows ~0.2 GB per further 1M edges.
LOCAL_ROW_LIMIT = 2_000_000


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, settings: dict):
    """Set session conf ``settings`` for the ``with`` body, then put every
    key back as it was: a key that was unset before is unset again (not
    pinned to its current default), so the session's ``getAll`` is the
    same after the scope as before it."""
    conf = spark.conf
    old = {k: conf.get(k, None) for k in settings}
    for k, v in settings.items():
        conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def adaptive_partitions(df: DataFrame, target_bytes: int = 64 << 20) -> int:
    """Output-partition count derived from the INPUT size estimate, not
    from cluster parallelism (guide §6: size output files to
    64 MB-1 GB). Catalyst's optimizedPlan stats are a driver-side
    estimate (no job); posting layouts and streaming state are roughly
    input-sized, so input bytes are the right yardstick. Clamped to
    [1, defaultParallelism]: a tiny corpus yields ONE sorted file (no
    range-sampling job, no 32 near-empty files), a 100-TB corpus still
    fans out to every core."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
    except Exception:
        est = 1 << 60  # unknown → keep the old fan-out behavior
    par = df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(par, -(-est // int(target_bytes))))


def probe_arrow(df: DataFrame, limit: Optional[int] = None):
    """``df`` as a ``pyarrow.Table`` when it has at most ``limit`` rows
    (default :data:`LOCAL_ROW_LIMIT`), else None. One job, and no value
    passes through a Python ``Row``; callers keep the values in Arrow
    (the broadcast joins ship the table itself as their build side and
    emit its rows with ``take``).

    ``limit(limit + 1).toArrow()`` plans a CollectLimit whose execution
    runs the limit over every partition at once (no escalation waves of
    ``collect()``'s CollectLimit) and then one single-partition exchange
    stage that gathers the ``limit + 1`` rows. The stage stays: the
    ``coalesce(1)`` form drops it but runs the probed subtree's last
    stage in one task, which measured slower (local[4], 8 shuffle
    partitions, best of 3: 428 -> 707 ms on a 120k-row ``mapInPandas``
    input, 2.49 -> 2.61 s on a 2M-row ``distinct``).

    Nested fields are made nullable first: ``toArrow`` rejects a null
    struct whose fields are declared non-nullable."""
    if limit is None:
        limit = LOCAL_ROW_LIMIT
    loose = df.schema.toNullable()
    if [f.dataType for f in loose] != [f.dataType for f in df.schema]:
        df = df.to(loose)
    table = df.limit(limit + 1).toArrow()
    return table if table.num_rows <= limit else None


def probe_pairs(df: DataFrame, key: str, col: str) -> list:
    """Bounded model-probe collect, sorted DRIVER-side (an ``orderBy``
    before a tiny collect plans a global sort whose range-bounds SAMPLING
    job re-runs the probe subtree). Returns ``(key, col)`` pairs in
    ``key`` order so one probe job can feed both a driver-side model
    (centroids/codebooks) and an inlined LocalRelation of the query
    rows."""
    rows = df.select(key, col).collect()
    rows.sort(key=lambda r: r[0])
    return [(r[0], r[1]) for r in rows]


def probe_sorted(df: DataFrame, key: str, col: str) -> list:
    """The ``col`` values of :func:`probe_pairs` in ``key`` order: one
    job, where an ``orderBy`` before the collect costs 2 for <=32 rows."""
    return [v for _, v in probe_pairs(df, key, col)]


def small_sort(df: DataFrame, *cols) -> DataFrame:
    """Presentation sort for a SMALL (bounded-by-construction) result:
    one-partition exchange + in-partition sort. A trailing global
    orderBy plans a RangePartitioning whose bounds-SAMPLING job
    re-executes everything after the last exchange (measured 2.0x on
    q122, whose whole 600k-row window sat between the exchange and the
    sort); for results bounded to tens/hundreds of rows the
    single-partition sort is strictly cheaper and scale-safe."""
    return df.repartition(1).sortWithinPartitions(*cols)


def epoch_micros(ts: Union[Column, str]) -> Column:
    """Microseconds since 1970-01-01 00:00 of a TIMESTAMP_NTZ, reading its
    wall time as UTC. The session timezone never enters: NTZ minus NTZ is
    an exact UTC duration. ``unix_micros(ts.cast("timestamp"))`` reads the
    wall time in the session zone instead, and ``timestamp_diff`` shifts
    wall times that fall in a daylight-saving gap."""
    ts = F.col(ts) if isinstance(ts, str) else ts
    since = (ts - F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'")) \
        .cast("interval second")
    return (since.cast("decimal(24,6)") * 1_000_000).cast("long")


def utc_timestamp(ts: Union[Column, str]) -> Column:
    """The TIMESTAMP instant whose UTC wall time is the TIMESTAMP_NTZ
    ``ts`` — what watermarks, event-time windows and ``unix_micros`` need,
    under any session timezone."""
    return F.timestamp_micros(epoch_micros(ts))
