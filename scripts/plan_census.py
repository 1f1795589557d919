"""Static plan census over every queries() entry — the round-9/10 audit
as a reusable command. For each query, build the DataFrame at the given
sf (AQE off so static shapes are visible) and count the anti-patterns:

* CartesianProduct           — must be 0 everywhere;
* BatchEvalPython            — row-at-a-time Python, must be 0 (Arrow
                               stages show as ArrowEvalPython /
                               MapInPandas / FlatMapGroupsInPandas);
* BroadcastNestedLoopJoin    — allowed only as bounded-frame attaches;
                               listed per query for hand-adjudication.
* Scan ExistingRDD           — split by the scanned RDD's lineage:
  - driver_rows_scan         — a ParallelCollectionRDD, i.e. a
                               createDataFrame of driver rows: every use is
                               a Python-runner job (a LocalRelation costs
                               none); must be empty;
  - checkpoint_scan          — anything else, i.e. a localCheckpoint
                               result; listed per query, not gated.
* session conf changes       — "query: key" for every conf key whose
                               value changed while the query was built;
                               must be empty (scope writes with
                               runtime.scoped_conf).
* views and streams left     — "query: name" for every temp view a query
                               added to the catalog and every streaming
                               query still active after it; must be empty
                               (drain bounded streams with
                               streaming.drain).
* CacheManager entries left  — queries that left Dataset caches behind
                               (persist without unpersist); listed, not
                               gated. The cache is cleared after every
                               query, so each entry is charged to the
                               query that made it.

Queries that EXECUTE during construction (streaming drains, operators
with driver-side fits) still yield their final frame's plan; their
internal jobs run — expect a several-minute wall at sf0.01.

Usage: python scripts/plan_census.py [sf_dir] [query ...]

The sf dir is the argument with a path separator in it. A query is a
full ``queries()`` key or its ``qNN`` prefix (``check_oracle``'s rule); a
name that matches no query is an error.
"""
from __future__ import annotations

import json
import os
import re
import sys

from check_oracle import resolve_names

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rdd_scans(node) -> list:
    """The lineage (``toDebugString``) of every RDD scan in a physical
    plan, subqueries and cached plans included."""
    if node.getClass().getSimpleName() == "RDDScanExec":
        return [node.rdd().toDebugString()]
    out = []
    for kids in (node.children(), node.innerChildren(), node.subqueries()):
        for i in range(kids.size()):
            out += _rdd_scans(kids.apply(i))
    return out


def _temp_views(spark) -> set:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    args = sys.argv[1:]
    sf = next((a for a in args if os.path.sep in a), "/root/testdata/sf0.01")
    qs = entry.queries()
    run, unknown = resolve_names(
        list(qs), [a for a in args if os.path.sep not in a])
    if unknown:
        sys.exit(f"no query named {', '.join(unknown)}")

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .appName("plan-census")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")

    cache = spark._jsparkSession.sharedState().cacheManager()
    cart, bep, bnlj, rows_scan, ckpt_scan, errs = [], [], {}, {}, {}, []
    conf_changed, view_left, cache_left = [], [], []
    for name in run:
        before = dict(spark.conf.getAll)
        views = _temp_views(spark)
        try:
            df = qs[name](spark, sf)
            qe = df._jdf.queryExecution()
            plan = qe.explainString(mode)
            scans = _rdd_scans(qe.executedPlan())
        except Exception as e:  # noqa: BLE001 — census must finish
            errs.append(f"{name}: {type(e).__name__}")
            continue
        finally:
            after = dict(spark.conf.getAll)
            conf_changed += [f"{name}: {k}"
                             for k in sorted(before.keys() | after.keys())
                             if before.get(k) != after.get(k)]
            view_left += [f"{name}: {v}"
                          for v in sorted(_temp_views(spark) - views)]
            view_left += [f"{name}: stream {q.name or q.id}"
                          for q in spark.streams.active]
            if not cache.isEmpty():
                cache_left.append(name)
            spark.catalog.clearCache()
        if "CartesianProduct" in plan:
            cart.append(name)
        if "BatchEvalPython" in plan:
            bep.append(name)
        n = plan.count("BroadcastNestedLoopJoin")
        if n:
            bnlj[name] = n
        n = sum("ParallelCollectionRDD" in s for s in scans)
        if n:
            rows_scan[name] = n
        if len(scans) > n:
            ckpt_scan[name] = len(scans) - n
    print(json.dumps({
        "sf": sf,
        "cartesian_product": cart,
        "batch_eval_python": bep,
        "broadcast_nested_loop": bnlj,
        "driver_rows_scan": rows_scan,
        "checkpoint_scan": ckpt_scan,
        "session_conf_changed": conf_changed,
        "view_left": view_left,
        "cache_left": cache_left,
        "errors": errs,
    }, indent=1))
    ok = (not cart and not bep and not rows_scan and not conf_changed
          and not view_left and not errs)
    print("census:", "CLEAN" if ok else "FINDINGS ABOVE")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
