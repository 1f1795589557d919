"""The graph operators: Spark implementations vs independent pure-Python
references and the unrolled-SQL (DuckDB) replicas.

k-core, label propagation and BFS have an in-process tier and a
distributed one; their tests run each tier in turn (:func:`tiers`)."""
import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark import runtime
from duckdb_spatial_spark.operators.graph import pagerank, pagerank_sql

EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 3), (5, 1),
    (6, 7),  # 7 is dangling
    (1, 2),  # duplicate edge — must count once
]


def tiers(monkeypatch):
    """Yield each tier's name with the guard set to force it: the default
    guard keeps small graphs in process, a zero guard sends every graph
    to the distributed loop."""
    for name, limit in (("in-process", runtime.LOCAL_ROW_LIMIT),
                        ("distributed", 0)):
        monkeypatch.setattr(runtime, "LOCAL_ROW_LIMIT", limit)
        yield name


def ref_pagerank(edges, iters, d=0.85):
    e = sorted(set(edges))
    nodes = sorted({u for p in e for u in p})
    n = len(nodes)
    out = {}
    for s, t in e:
        out.setdefault(s, []).append(t)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dang = sum(r[v] for v in nodes if v not in out)
        nr = {}
        for v in nodes:
            nr[v] = (1 - d) / n + d * dang / n
        for s, ts in out.items():
            for t in ts:
                nr[t] += d * r[s] / len(ts)
        r = nr
    return r


def test_pagerank_vs_reference(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iters=8).collect()}
    want = ref_pagerank(EDGES, 8)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-12), v
    # probabilities: ranks sum to 1
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)
    # hub node 3 outranks leaf nodes
    assert got[3] == max(got.values())


def test_pagerank_sql_replica(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iters=5).collect()}
    con = duckdb.connect()
    vals = ", ".join(f"({s}, {t})" for s, t in EDGES)
    sql = pagerank_sql(f"SELECT * FROM (VALUES {vals}) v(src, dst)",
                       iters=5)
    want = dict(con.execute(sql).fetchall())
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9), v


def test_triangle_count_vs_brute(spark):
    import itertools
    import random

    from duckdb_spatial_spark.operators.graph import triangle_count

    rng = random.Random(5)
    edges = {(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(220)}
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = sum(
        1 for x, y, z in itertools.combinations(sorted(adj), 3)
        if y in adj[x] and z in adj[x] and z in adj[y]
    )
    got = triangle_count(df).collect()[0]["n_triangles"]
    assert got == brute, (got, brute)
    # edge cases: empty + triangle-free (star) graphs
    empty = spark.createDataFrame([], "src long, dst long")
    assert triangle_count(empty).collect()[0]["n_triangles"] == 0
    star = spark.createDataFrame([(0, i) for i in range(1, 9)],
                                 "src long, dst long")
    assert triangle_count(star).collect()[0]["n_triangles"] == 0


def test_pagerank_no_dangling_nodes(spark):
    """Dangling-free graph (every node has an outlink): values must match
    the reference, and the loop takes the count()-materialized branch —
    the one ADVICE r9 flagged, where an AQE empty-relation-propagated
    mass join could skip filling the per-generation cache."""
    cycle = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    df = spark.createDataFrame(cycle, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iters=6).collect()}
    want = ref_pagerank(cycle, 6)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-12), v
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)


def test_pagerank_empty_graph_returns_empty(spark):
    """Empty edge set → empty (node, rank) frame, not a
    ZeroDivisionError from the 1/n uniform start."""
    from duckdb_spatial_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    out = pagerank(empty, iters=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def ref_lpa(edges, iters):
    """Independent pure-Python synchronous LPA with the same
    (count DESC, label ASC) tie-break."""
    und = {tuple(sorted(e)) for e in edges
           if e[0] != e[1] and e[0] is not None and e[1] is not None}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v in adj:
            cnt = {}
            for u in adj[v]:
                cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            if cnt:
                new[v] = min(cnt, key=lambda l: (-cnt[l], l))
            else:
                new[v] = lab[v]
        lab = new
    return lab


def test_label_propagation_vs_reference_fuzz(spark, monkeypatch):
    import random

    from duckdb_spatial_spark.operators.graph import label_propagation

    for tier in tiers(monkeypatch):
        rng = random.Random(13)
        for trial in range(6):
            n = rng.randint(5, 35)
            m = rng.randint(n, 4 * n)
            edges = [(rng.randint(0, n), rng.randint(0, n))
                     for _ in range(m)]
            iters = rng.randint(1, 5)
            df = spark.createDataFrame(edges, "src long, dst long")
            got = {r["node"]: r["lab"]
                   for r in label_propagation(df, iters=iters).collect()}
            want = ref_lpa(edges, iters)
            assert got == want, (tier, trial, iters)


def test_label_propagation_sql_twin(spark, monkeypatch):
    import random

    from duckdb_spatial_spark.operators.graph import (label_propagation,
                                                      label_propagation_sql)

    rng = random.Random(99)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(180)]
    df = spark.createDataFrame(edges, "src long, dst long")
    vals = ", ".join(f"({a}, {b})" for a, b in edges)
    sql = label_propagation_sql(
        f"SELECT * FROM (VALUES {vals}) v(src, dst)", iters=4)
    want = dict(duckdb.connect().execute(sql).fetchall())
    for tier in tiers(monkeypatch):
        got = {r["node"]: r["lab"]
               for r in label_propagation(df, iters=4).collect()}
        assert got == want, tier


def test_label_propagation_two_cliques(spark, monkeypatch):
    """Two cliques joined by one bridge edge: labels converge to each
    clique's minimum id."""
    import itertools

    from duckdb_spatial_spark.operators.graph import label_propagation

    c1 = list(itertools.combinations([0, 1, 2, 3], 2))
    c2 = list(itertools.combinations([10, 11, 12, 13], 2))
    edges = c1 + c2 + [(3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for tier in tiers(monkeypatch):
        got = {r["node"]: r["lab"]
               for r in label_propagation(df, iters=5).collect()}
        assert got == ref_lpa(edges, 5), tier
        assert {got[v] for v in (0, 1, 2)} == {0}, tier
        assert {got[v] for v in (11, 12, 13)} == {10}, tier


def test_label_propagation_empty(spark, monkeypatch):
    from duckdb_spatial_spark.operators.graph import label_propagation

    empty = spark.createDataFrame([], "src long, dst long")
    for tier in tiers(monkeypatch):
        out = label_propagation(empty, iters=3)
        assert out.columns == ["node", "lab"], tier
        assert out.count() == 0, tier


def test_label_propagation_negative_ids(spark, monkeypatch):
    """Tie-break must stay (count DESC, label ASC) for NEGATIVE node
    ids too — the min(struct(-c, lab)) aggregate is sign-safe where a
    label negation would invert ties."""
    from duckdb_spatial_spark.operators.graph import label_propagation

    edges = [(-5, 1), (-5, 2), (1, 2), (-9, -5), (3, -9), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for tier in tiers(monkeypatch):
        got = {r["node"]: r["lab"]
               for r in label_propagation(df, iters=4).collect()}
        assert got == ref_lpa(edges, 4), tier


def ref_k_core(edges, k):
    """Independent pure-Python peel to convergence."""
    und = {tuple(sorted(e)) for e in edges
           if e[0] != e[1] and e[0] is not None and e[1] is not None}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {v for v in alive
                if len(adj[v] & alive) < k}
        if not drop:
            return alive
        alive -= drop


def test_k_core_vs_reference_fuzz(spark, monkeypatch):
    import random

    from duckdb_spatial_spark.operators.graph import k_core

    for tier in tiers(monkeypatch):
        rng = random.Random(17)
        for trial in range(5):
            n = rng.randint(6, 40)
            m = rng.randint(n, 4 * n)
            edges = [(rng.randint(0, n), rng.randint(0, n))
                     for _ in range(m)]
            k = rng.randint(1, 4)
            df = spark.createDataFrame(edges, "src long, dst long")
            got = {r["node"] for r in k_core(df, k).collect()}
            assert got == ref_k_core(edges, k), (tier, trial, k)


def test_k_core_sql_twin(spark, monkeypatch):
    import random

    from duckdb_spatial_spark.operators.graph import k_core, k_core_sql

    rng = random.Random(23)
    edges = [(rng.randint(0, 50), rng.randint(0, 50)) for _ in range(160)]
    df = spark.createDataFrame(edges, "src long, dst long")
    vals = ", ".join(f"({a}, {b})" for a, b in edges)
    sql = k_core_sql(f"SELECT * FROM (VALUES {vals}) v(src, dst)",
                     3, rounds=8)
    want = {r[0] for r in duckdb.connect().execute(sql).fetchall()}
    for tier in tiers(monkeypatch):
        got = {r["node"] for r in k_core(df, 3, rounds=8).collect()}
        assert got == want, tier


def test_k_core_clique_plus_tail(spark, monkeypatch):
    """A 5-clique with a pendant path: the 4-core is exactly the clique,
    the 1-core is everything, k=6 empties the graph."""
    import itertools

    from duckdb_spatial_spark.operators.graph import k_core

    clique = list(itertools.combinations(range(5), 2))
    tail = [(4, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(clique + tail, "src long, dst long")
    for tier in tiers(monkeypatch):
        assert ({r["node"] for r in k_core(df, 4).collect()}
                == {0, 1, 2, 3, 4}), tier
        assert ({r["node"] for r in k_core(df, 1).collect()}
                == {0, 1, 2, 3, 4, 10, 11, 12}), tier
        assert k_core(df, 6).count() == 0, tier


def test_k_core_empty(spark, monkeypatch):
    from duckdb_spatial_spark.operators.graph import k_core

    empty = spark.createDataFrame([], "src long, dst long")
    for tier in tiers(monkeypatch):
        out = k_core(empty, 2)
        assert out.columns == ["node"], tier
        assert out.count() == 0, tier


def ref_bfs(edges, source, rounds):
    """Independent pure-Python BFS over the undirected simple graph."""
    adj = {}
    for a, b in edges:
        if a is not None and b is not None and a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    dist, frontier = {source: 0}, [source]
    for r in range(1, rounds + 1):
        frontier = [w for v in frontier for w in adj.get(v, ())
                    if w not in dist]
        for w in frontier:
            dist[w] = r
    return dist


def test_bfs_hops_vs_reference(spark, monkeypatch):
    """Duplicate and reversed edges, self-loops and null endpoints, a
    path longer than ``rounds``, an unreachable component, and random
    graphs."""
    import random

    from duckdb_spatial_spark.operators.graph import bfs_hops

    path = [(i, i + 1) for i in range(10)]
    cases = [
        (path + [(1, 0), (2, 1), (0, 1), (3, 3), (4, None)], 0, 3),
        (path + [(20, 21), (21, 22)], 5, 8),
    ]
    rng = random.Random(31)
    for _ in range(3):
        n = rng.randint(5, 30)
        cases.append(([(rng.randint(0, n), rng.randint(0, n))
                       for _ in range(rng.randint(n, 3 * n))],
                      rng.randint(0, n), rng.randint(1, 5)))
    for tier in tiers(monkeypatch):
        for i, (edges, source, rounds) in enumerate(cases):
            df = spark.createDataFrame(edges, "src long, dst long")
            out = bfs_hops(df, source, rounds)
            assert out.columns == ["node", "d"]
            got = {r["node"]: r["d"] for r in out.collect()}
            assert got == ref_bfs(edges, source, rounds), (tier, i)


def test_bfs_hops_isolated_source(spark, monkeypatch):
    """The source is at hop 0 when no edge touches it, and on an empty
    edge set."""
    from duckdb_spatial_spark.operators.graph import bfs_hops

    df = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    empty = spark.createDataFrame([], "a long, b long")
    for tier in tiers(monkeypatch):
        for edges in (df, empty):
            got = [tuple(r) for r in
                   bfs_hops(edges, 7, 4, src_col="a", dst_col="b").collect()]
            assert got == [(7, 0)], tier


def test_graph_loops_in_process_tier_is_local(spark):
    """Under the guard the loops return a LocalRelation: the rounds ran
    in the driver, not as Spark jobs."""
    from duckdb_spatial_spark.operators.graph import (bfs_hops, k_core,
                                                      label_propagation)

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    for out in (k_core(df, 2), label_propagation(df, iters=2),
                bfs_hops(df, 1, 2)):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.lstrip().startswith("LocalRelation"), plan


def test_graph_loops_distributed_tier_caches_only_its_result(spark,
                                                           monkeypatch):
    """Above the guard the probed edge frame and the loop's edge cache
    are released: the returned generation is the only cache left."""
    from duckdb_spatial_spark.operators.graph import (bfs_hops, k_core,
                                                      label_propagation)

    monkeypatch.setattr(runtime, "LOCAL_ROW_LIMIT", 0)
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)],
                               "src long, dst long")
    cache = spark._jsparkSession.sharedState().cacheManager()
    for run in (lambda: k_core(df, 2), lambda: label_propagation(df, iters=2),
                lambda: bfs_hops(df, 1, 2)):
        spark.catalog.clearCache()
        out = run()
        assert out.count() > 0
        out.unpersist()
        assert cache.isEmpty()


def test_graph_queries_leave_nothing_cached(spark):
    """q158, q161 and q162 leave no CacheManager entry and no persisted
    RDD behind."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from conftest import SF_DIR

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    for name, fn in entry.queries().items():
        if name.split("_")[0] not in ("q158", "q161", "q162"):
            continue
        before = rdds().size()
        assert fn(spark, SF_DIR).collect(), name
        assert cache.isEmpty(), name
        assert rdds().size() <= before, name


# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------

def ref_hits(edges, iters):
    """Independent pure-Python replay of the unnormalized double-step."""
    e = sorted(set(edges))
    h = {u: 1.0 for u, _ in e}
    a = {}
    for _ in range(iters):
        a = {}
        for u, v in e:
            if u in h:
                a[v] = a.get(v, 0.0) + h[u]
        nh = {}
        for u, v in e:
            if v in a:
                nh[u] = nh.get(u, 0.0) + a[v]
        h = nh
    return h, a


def test_hits_matches_reference(spark):
    from duckdb_spatial_spark.operators.graph import hits

    edges = [(1, 10), (1, 11), (2, 10), (2, 11), (2, 12), (3, 12),
             (10, 1),  # a cycle back — 1 is also an authority
             (1, 10)]  # duplicate must count once
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["kind"], r["node"]): r["score"]
           for r in hits(df, iters=3).collect()}
    h, a = ref_hits(edges, 3)
    want = {("hub", u): s for u, s in h.items() if s}
    want.update({("auth", v): s for v, s in a.items() if s})
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k


def test_hits_sql_twin_matches_spark(spark):
    from duckdb_spatial_spark.operators.graph import hits, hits_sql

    edges = [(i % 7, 100 + (i * 3) % 5) for i in range(40)] + \
            [(100 + i % 5, i % 3) for i in range(15)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted((r["kind"], r["node"], round(r["score"], 6))
                 for r in hits(df, iters=4).collect())
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    sql = hits_sql(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)", iters=4)
    con = duckdb.connect()
    want = sorted((k, n, round(s, 6))
                  for k, n, s in con.execute(sql).fetchall())
    assert got == want


def test_hits_null_and_empty(spark):
    from duckdb_spatial_spark.operators.graph import hits

    df = spark.createDataFrame(
        [(1, 10), (None, 11), (2, None)], "src long, dst long")
    got = {(r["kind"], r["node"]) for r in hits(df, iters=2).collect()}
    assert got == {("hub", 1), ("auth", 10)}
    empty = spark.createDataFrame([], "src long, dst long")
    assert hits(empty, iters=2).count() == 0


def test_hits_bipartite_hub_ordering(spark):
    """On a pure bipartite star mix, the buyer covering the most
    distinct suppliers is the top hub and the most-covered supplier the
    top authority — sanity of the semantics, not just the recurrence."""
    from duckdb_spatial_spark.operators.graph import hits

    edges = ([(1, v) for v in (10, 11, 12, 13)]
             + [(2, v) for v in (10, 11)]
             + [(3, 10)])
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {(r["kind"], r["node"]): r["score"]
           for r in hits(df, iters=4).collect()}
    hubs = {n: s for (k, n), s in out.items() if k == "hub"}
    auths = {n: s for (k, n), s in out.items() if k == "auth"}
    assert max(hubs, key=hubs.get) == 1
    assert max(auths, key=auths.get) == 10
