"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at the same sf, compare row count,
column names (sorted), and values (sorted rows, rounded floats).

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]

A query name is a full ``queries()`` key (``q158_bfs_hops``) or its
``qNN`` prefix (``q158``); a name that matches no query is an error.
"""
from __future__ import annotations

import math
import os
import sys

import duckdb

# the tree this script lives in, for the driver and the Python workers
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def resolve_names(names, args):
    """The ``queries()`` keys ``args`` name (all of ``names`` when
    ``args`` is empty), in ``names`` order, and the args that name none.
    An arg is a full key or a ``qNN`` prefix, the part before the first
    ``_`` (perfbench's ``workloads.query_names`` rule)."""
    if not args:
        return list(names), []
    by_prefix = {k.split("_", 1)[0]: k for k in names}
    wanted = {a if a in names else by_prefix.get(a) for a in args}
    unknown = [a for a in args if a not in names and a not in by_prefix]
    return [k for k in names if k in wanted], unknown


def norm(v):
    """Type-PRESERVING normalisation.

    The driver's value-hash distinguishes int from float from Decimal, so the
    local replica must too: an oracle returning HUGEINT/DECIMAL where Spark
    returns BIGINT/DOUBLE is a driver failure even when numerically equal.
    Round-2 verdict proved all 11 driver hash-fails were exactly this, masked
    by the old int→float coercion here.
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # Carry the sign bit explicitly: the driver's value-hash renders
        # -0.0 and 0.0 differently (round-8 q148 red row — DuckDB emitted
        # mixed ±0.0 from round(avg(z),6) while Spark emitted +0.0, and
        # this replica's tuple compare said equal because -0.0 == 0.0).
        return ("f", round(v, 6), math.copysign(1.0, v))
    if isinstance(v, int):
        return ("i", v)
    import decimal
    if isinstance(v, decimal.Decimal):
        raise TypeError(
            "oracle returned DECIMAL — cast the aggregate to DOUBLE/BIGINT "
            "in oracle_sql(); the driver's hash will not match Spark's type"
        )
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def main():
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    sf = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 \
        else "/root/testdata/sf0.01"
    qs = entry.queries()
    run, unknown = resolve_names(list(qs), sys.argv[2:])
    if unknown:
        sys.exit(f"no query named {', '.join(unknown)}")

    # Python workers start as `python -m pyspark.daemon` in the driver's
    # working directory, which comes first on their sys.path (before
    # PYTHONPATH): run from ROOT so they import this tree's package
    os.chdir(ROOT)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    oracles = entry.oracle_sql()
    failures = []
    for name in run:
        try:
            df = qs[name](spark, sf)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle — rows-only check)")
            continue
        try:
            rel = con.execute(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        sc, sr = canon(scols, srows)
        oc, orr = canon(ocols, orows)
        if sc != oc:
            failures.append(name)
            print(f"FAIL  {name}: columns differ spark={sc} oracle={oc}")
            continue
        if len(sr) != len(orr):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(sr)} oracle={len(orr)}")
            continue
        # Strict pass replicates the driver's value-hash: after norm()
        # (floats rounded to 6 decimals) rows must match EXACTLY.
        strict_bad = sum(1 for a, b in zip(sr, orr) if a != b)
        loose_bad = 0
        for a, b in zip(sr, orr):
            for x, y in zip(a, b):
                xf = x[1] if isinstance(x, tuple) and x[0] == "f" else None
                yf = y[1] if isinstance(y, tuple) and y[0] == "f" else None
                if xf is not None and yf is not None:
                    if not (abs(xf - yf) <= 1e-4 * max(1.0, abs(xf), abs(yf))):
                        loose_bad += 1
                        break
                elif x != y:
                    loose_bad += 1
                    break
        if loose_bad:
            failures.append(name)
            print(f"FAIL  {name}: {loose_bad}/{len(sr)} rows mismatch")
            print(f"      spark[0:3]={sr[:3]}")
            print(f"      oracl[0:3]={orr[:3]}")
        elif strict_bad:
            failures.append(name)
            first = next((a, b) for a, b in zip(sr, orr) if a != b)
            print(f"HASH  {name}: {strict_bad}/{len(sr)} rows drift at <1e-4 "
                  f"(driver hash would FAIL)")
            print(f"      spark={first[0]}")
            print(f"      oracl={first[1]}")
        else:
            print(f"OK    {name}: {len(sr)} rows")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
