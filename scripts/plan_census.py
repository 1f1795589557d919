"""Static plan census over every queries() entry — the round-9/10 audit
as a reusable command. For each query, build the DataFrame at the given
sf (AQE off so static shapes are visible) and count the anti-patterns:

* CartesianProduct           — must be 0 everywhere;
* BatchEvalPython            — row-at-a-time Python, must be 0 (Arrow
                               stages show as ArrowEvalPython /
                               MapInPandas / FlatMapGroupsInPandas);
* BroadcastNestedLoopJoin    — allowed only as bounded-frame attaches;
                               listed per query for hand-adjudication.
* Scan ExistingRDD           — a createDataFrame of driver data: every
                               use is a Python-runner job (a LocalRelation
                               would cost none); listed per query, not
                               gated.

Queries that EXECUTE during construction (streaming drains, operators
with driver-side fits) still yield their final frame's plan; their
internal jobs run — expect a several-minute wall at sf0.01.

Usage: python scripts/plan_census.py [sf_dir] [query ...]
"""
from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = next((a for a in sys.argv[1:] if os.path.sep in a),
          "/root/testdata/sf0.01")
ONLY = {a for a in sys.argv[1:] if os.path.sep not in a}


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

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

    cart, bep, bnlj, rdd, errs = [], [], {}, {}, []
    for name, fn in entry.queries().items():
        if ONLY and name not in ONLY:
            continue
        try:
            df = fn(spark, SF)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001 — census must finish
            errs.append(f"{name}: {type(e).__name__}")
            continue
        if "CartesianProduct" in plan:
            cart.append(name)
        if "BatchEvalPython" in plan:
            bep.append(name)
        n = plan.count("BroadcastNestedLoopJoin")
        if n:
            bnlj[name] = n
        # tree lines only ("Scan ExistingRDD (3)"), not the detail section
        n = len(re.findall(r"Scan ExistingRDD \(\d+\)", plan))
        if n:
            rdd[name] = n
    print(json.dumps({
        "sf": SF,
        "cartesian_product": cart,
        "batch_eval_python": bep,
        "broadcast_nested_loop": bnlj,
        "existing_rdd_scan": rdd,
        "errors": errs,
    }, indent=1))
    ok = not cart and not bep and not errs
    print("census:", "CLEAN" if ok else "FINDINGS ABOVE")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
