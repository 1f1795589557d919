"""No query changes the session it runs in.

(a) Every ``queries()`` entry, built and collected at sf0.001, leaves
``spark.conf.getAll`` exactly as it found it, adds no temp view to the
catalog and leaves no streaming query active. The queries run under a
non-UTC session timezone, so that a write of UTC shows as a change. The
cache is cleared after each query: cache lifetimes are a separate
contract.
(b) Event-time queries return the same rows under a non-UTC session
timezone as under UTC, and leave that timezone in place.
"""
from __future__ import annotations

import os
import sys

import pytest
from conftest import SF_DIR

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from duckdb_spatial_spark.runtime import scoped_conf  # noqa: E402

_TZ = "spark.sql.session.timeZone"


def test_scoped_conf_restores_set_and_unset_keys(spark):
    unset = "spark.sql.limit.initialNumPartitions"
    spark.conf.unset(unset)
    before = dict(spark.conf.getAll)
    with scoped_conf(spark, {unset: 7, _TZ: "Asia/Kathmandu"}):
        assert spark.conf.get(unset) == "7"
        assert spark.conf.get(_TZ) == "Asia/Kathmandu"
    assert dict(spark.conf.getAll) == before
    with pytest.raises(ZeroDivisionError):
        with scoped_conf(spark, {unset: 7}):
            1 / 0
    assert dict(spark.conf.getAll) == before


def test_queries_leave_session_conf_unchanged(spark):
    changed = []
    with scoped_conf(spark, {_TZ: "America/Los_Angeles"}):
        for name, fn in entry.queries().items():
            before = dict(spark.conf.getAll)
            views = _temp_views(spark)
            try:
                fn(spark, SF_DIR).collect()
            except Exception as e:  # noqa: BLE001 — report every query
                changed.append(
                    f"{name}: raised {type(e).__name__}: {e}"[:300])
            spark.catalog.clearCache()
            after = dict(spark.conf.getAll)
            changed += [f"{name}: {k} {before.get(k)!r} -> {after.get(k)!r}"
                        for k in sorted(before.keys() | after.keys())
                        if before.get(k) != after.get(k)]
            changed += [f"{name}: left view {v}"
                        for v in sorted(_temp_views(spark) - views)]
            changed += [f"{name}: left stream {q.name or q.id}"
                        for q in spark.streams.active]
    assert not changed, "\n".join(changed)


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("name", ["q75_streaming_extent", "q112_asof_join",
                                  "q121_resample_ffill"])
def test_event_time_queries_ignore_session_timezone(spark, name):
    fn = entry.queries()[name]
    rows = {}
    for tz in ("UTC", "America/Los_Angeles"):
        with scoped_conf(spark, {_TZ: tz}):
            rows[tz] = sorted(map(tuple, fn(spark, SF_DIR).collect()), key=repr)
            assert spark.conf.get(_TZ) == tz
    assert rows["America/Los_Angeles"] == rows["UTC"]
