"""Graph analytics over edge DataFrames — PageRank (domain authority over
a web link graph, the ranking signal next to the URL tier), HITS,
triangles, label propagation, k-core and BFS hop distances, plus the
connected-components operator living in dedup.py.

PageRank is THE canonical iterative Spark workload: each iteration is one
equi-join (ranks ⋈ edges on src) + one aggregation (sum contributions per
dst) — shuffle-on-key, no driver-side data beyond two scalars (dangling
mass, node count). A fixed iteration count keeps it deterministic and lets
the SQL oracle unroll the same recurrence as chained CTEs.

    r_{t+1}(v) = (1-d)/N + d · (Σ_{u→v} r_t(u)/deg(u) + D_t/N)

where D_t is the total rank mass on dangling (no-outlink) nodes. Ranks are
persisted per iteration and the previous generation unpersisted — lineage
stays O(1) deep instead of growing by one join per iteration.

The three integer-only loops (:func:`k_core`, :func:`label_propagation`,
:func:`bfs_hops`) have two tiers, like connected components. One
:func:`~duckdb_spatial_spark.runtime.probe_arrow` job reads the
deduplicated edge set; when it holds at most
``runtime.LOCAL_ROW_LIMIT`` edges (2M), the rounds run in NumPy in the
driver and the result comes back as a LocalRelation, so a graph that fits
in memory pays no job per round ("Scalability! But at what COST?",
McSherry et al. 2015). A larger edge set runs the distributed loop, one
materializing job per round, over the edge cache the probe job filled
(the edge set is persisted before the probe). Both tiers compute the same recurrence, so
the unrolled SQL twins check either.
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import runtime
from ..sources.tables import local_relation

__all__ = ["pagerank", "triangle_count", "label_propagation",
           "label_propagation_sql", "k_core", "k_core_sql", "bfs_hops",
           "hits", "hits_sql"]


def _probe_graph(edges: DataFrame, src_col: str, dst_col: str):
    """Probe the simple edge set of ``edges`` — (src, dst) as longs, null
    endpoints and self-loops dropped, each directed edge once — for the
    in-process tier. Returns ``(e0, graph)``.

    ``graph`` is ``(nodes, src, dst)``: the sorted distinct endpoints,
    and the undirected edge set with each direction once as index arrays
    into ``nodes``, sorted by (src, dst). It is None when ``e0`` holds
    more than ``runtime.LOCAL_ROW_LIMIT`` edges; ``e0`` is then returned
    persisted, its cache filled by the probe job, so the distributed
    loop reads it instead of computing it again, and the caller
    unpersists it. Under the guard ``e0`` is already unpersisted."""
    e0 = (edges.select(F.col(src_col).cast("long").alias("src"),
                       F.col(dst_col).cast("long").alias("dst"))
          .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()
                  & (F.col("src") != F.col("dst")))
          .distinct().persist())
    t = runtime.probe_arrow(e0)
    if t is None:
        return e0, None
    e0.unpersist()
    a = t.column("src").to_numpy()
    b = t.column("dst").to_numpy()
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    n = len(nodes)
    s, d = idx[:len(a)], idx[len(a):]
    # one int64 key per directed pair: n <= 2 * LOCAL_ROW_LIMIT, so n * n
    # stays far below 2**63
    key = np.unique(np.concatenate([s * n + d, d * n + s]))
    return e0, (nodes, key // n, key % n)


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Ranks after ``iters`` synchronous iterations from a uniform start.
    Returns (node, rank). Duplicate edges count once (the link-graph
    convention); nodes = every distinct endpoint."""
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct()
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct()
             .persist())
    n = nodes.count()
    if n == 0:
        # empty graph: empty (node, rank) frame, not a ZeroDivisionError
        # from the 1/n uniform start
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))
    from pyspark.sql import Window

    # out-links with degree attached — reused every iteration, persist
    # once. Degree is a WINDOW count over the src-partitioned layout,
    # not an e ⋈ groupBy(deg) self-join: the derived deg aggregate
    # planned as a broadcast build, its own job barrier (trap 13), and
    # re-ran the distinct. The explicit repartition("src") also fixes
    # the cache's partitioning so every iteration's contribs join is
    # co-partitioned with the rank generations (zero per-iteration
    # exchange or broadcast of the edges — the q161/q164 loop shape).
    links = (
        e.repartition("src")
        .withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .persist()
    )

    d = float(damping)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).persist()
    dangling = nodes.join(
        links.select(F.col("src").alias("node")).hint("merge"),
        "node", "left_anti"
    ).persist()
    # ONE job materializes the generation AND returns the dangling mass
    # the NEXT iteration needs: the inner join with the (persisted)
    # dangling set scans every ranks partition, filling its cache as a
    # side effect — the separate per-iteration `.count()` +
    # dangling-collect pair cost two driver job barriers per iteration
    # (~0.25-0.3 s each at the local-mode job floor; q96 = 14 jobs
    # before, 9 after). This initial mass job also back-fills the links
    # and dangling caches (links has no dedicated count job). The mass
    # still leaves the plan through a 1-row collect — the
    # single-reference loop shape that avoids the exponential-lineage
    # trap (PLANS.md trap 19).
    _mass = ranks.hint("merge").join(dangling, "node").agg(F.sum("rank"))
    dang_mass = _mass.collect()[0][0] or 0.0
    # Ranks start uniform-POSITIVE (1/n), so the initial mass is
    # |dangling|/n — zero iff the dangling set is empty. Decide the loop
    # shape on that, with no extra job: when there are no dangling
    # nodes, the per-iteration mass join must NOT be the cache
    # materializer — AQE (Spark's default; only the bench profile turns
    # it off) empty-propagates the inner join with an empty dangling
    # set and may never scan new_ranks, leaving the persisted cache
    # unfilled while the previous generation is unpersisted — every
    # iteration would recompute an ever-deeper lineage (ADVICE r9;
    # values stay correct, perf does not).
    has_dangling = dang_mass > 0.0

    # Every per-iteration join below is CO-PARTITIONED on 8-ish shuffle
    # partitions: links is cached hash(src), every rank/contrib
    # generation comes out of a distinct/groupBy/SMJ hash(node), and
    # dangling is cached hash(node) — so the only exchange per
    # iteration is the contribs groupBy, and the only job is the mass
    # collect (or cache-fill count). The joins are pinned to sort-merge
    # because a small cached generation would otherwise re-trigger an
    # auto-broadcast, and each derived-frame broadcast build is its own
    # job barrier (trap 13; this loop previously spent ~1 broadcast
    # job/iteration on exactly that). Same plan shape at any scale —
    # nothing here keys off n.
    for _ in range(iters):
        contribs = (
            links.hint("merge")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"),
                    (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        new_ranks = (
            nodes.hint("merge").join(contribs, "node", "left")
            .select(
                "node",
                (F.lit((1.0 - d) / n)
                 + F.lit(d) * (F.coalesce(F.col("c"), F.lit(0.0))
                               + F.lit(dang_mass / n))).alias("rank"),
            )
            .persist()
        )
        if has_dangling:
            dang_mass = (
                new_ranks.hint("merge").join(dangling, "node")
                .agg(F.sum("rank"))
                .collect()[0][0] or 0.0
            )
        else:
            new_ranks.count()   # dang_mass stays 0.0; fill the cache
        ranks.unpersist()
        ranks = new_ranks
    nodes.unpersist()
    links.unpersist()
    dangling.unpersist()
    return ranks


def pagerank_sql(
    edges_cte: str,
    iters: int = 10,
    damping: float = 0.85,
) -> str:
    """DuckDB replica: the same recurrence unrolled as chained CTEs
    (aggregates are not allowed in a recursive CTE term, so a fixed
    iteration count IS the SQL-expressible form). ``edges_cte`` must be a
    SELECT yielding (src, dst). Returns SQL producing (node, rank)."""
    d = float(damping)
    parts = [
        f"e AS (SELECT DISTINCT src, dst FROM ({edges_cte}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1)",
        ("r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)"),
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        cur = f"r{i}"
        parts.append(f"""{cur} AS (
          SELECT nodes.node,
                 (1.0 - {d}) / nn.n + {d} * (
                   COALESCE(c.c, 0.0)
                   + (SELECT COALESCE(sum(r.rank), 0.0) FROM {prev} r
                      LEFT JOIN deg ON deg.src = r.node
                      WHERE deg.src IS NULL) / nn.n
                 ) AS rank
          FROM nodes CROSS JOIN nn
          LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank / deg.deg) AS c
            FROM e JOIN {prev} r ON r.node = e.src
            JOIN deg ON deg.src = e.src
            GROUP BY 1
          ) c ON c.node = nodes.node
        )""")
        prev = cur
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, rank FROM {prev}"


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count — the degree-ordered orientation
    shape (Cohen 2009 / Suri & Vassilvitskii WWW'11, the MapReduce
    classic): dedupe the undirected edge set, orient every edge from
    its lower-(degree, id) endpoint to the higher, enumerate wedges by
    self-joining the oriented adjacency on the low vertex, and close
    each wedge against the oriented edge set. Orientation bounds every
    vertex's out-degree by ~sqrt(m) (graph arboricity), so the wedge
    join's fanout — the quadratic hazard in a hub's neighborhood — is
    capped; hub wedges are enumerated from the LOW-degree side only.

    One pass over the input: endpoint degrees are WINDOW counts over
    the symmetric (v, other) view folded back per edge by one groupBy —
    the old deg-frame equi-joins planned as broadcast builds whose
    subtrees each re-ran the scan + distinct (measured: 5 async
    broadcast jobs ≈ 5 input scans for one count). The oriented edge
    set is checkpointed once and feeds the wedge self-join and the
    closure join as co-partitioned merge joins (pinned — a small
    checkpointed frame would re-trigger auto-broadcast builds).
    Returns a 1-row DataFrame (n_triangles long).
    """
    from pyspark.sql import Window

    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    u = e.select(F.col("a").alias("v"), F.col("b").alias("o")).unionAll(
        e.select(F.col("b").alias("v"), F.col("a").alias("o")))
    u = u.withColumn("dv", F.count(F.lit(1)).over(Window.partitionBy("v")))
    pairs = (
        u.groupBy(F.least("v", "o").alias("a"),
                  F.greatest("v", "o").alias("b"))
        .agg(F.max(F.when(F.col("v") < F.col("o"), F.col("dv"))).alias("da"),
             F.max(F.when(F.col("v") > F.col("o"), F.col("dv"))).alias("db"))
    )
    lower_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    # LAZY checkpoint: still truncates lineage (the wedge/closure self-
    # references would be ambiguous otherwise) and still computes the
    # oriented set ONCE, but materialization piggybacks on the caller's
    # first job instead of a dedicated eager job — the eager form
    # serialized a full scan+distinct+window job BEFORE the join job,
    # costing ~0.5 s wall at sf0.1 (the one driver-read regression of
    # the r11 single-scan rewrite); lazy keeps the 1-scan/1-job shape.
    oriented = pairs.select(
        F.when(lower_is_a, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lower_is_a, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).localCheckpoint(eager=False)
    w1 = oriented.select(F.col("lo"), F.col("hi").alias("u"))
    w2 = oriented.select(F.col("lo"), F.col("hi").alias("w"))
    wedges = (
        w1.hint("merge").join(w2, "lo")
        .filter(F.col("u") < F.col("w"))  # each unordered wedge once
        .select("u", "w")
    )
    closure = oriented.select(
        F.least("lo", "hi").alias("u2"), F.greatest("lo", "hi").alias("w2"))
    n = (
        wedges.hint("merge").join(
            closure,
            (  # wedge endpoints are unordered-normalized by u < w, but
               # the closing edge is stored (a < b), so match directly
                (F.col("u") == F.col("u2")) & (F.col("w") == F.col("w2"))
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return n


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 5,
) -> DataFrame:
    """Synchronous label propagation (Raghavan-Albert-Kumara 2007) —
    community detection, the fourth member of the graph tier next to
    PageRank/components/triangles/BFS. Undirected simple graph (both
    directions materialized, self-loops dropped); every node starts
    labeled with its own id and each iteration relabels every node with
    the most frequent label among its neighbors, ties to the SMALLEST
    label. A fixed iteration count keeps the run deterministic and
    SQL-replayable (:func:`label_propagation_sql` unrolls the same
    rounds — aggregates cannot appear in a recursive CTE term).

    EXACT cross-engine by construction: labels are node ids and votes
    are counts — the whole recurrence is integer-only, so there is no
    float drift to manage (unlike PageRank's mass arithmetic).
    Synchronous updates can oscillate on bipartite-ish structure (the
    classic LPA caveat); with fixed iterations that is still a
    deterministic, checkable answer.

    Two tiers (module docstring). In process, when the deduplicated edge
    set has at most ``runtime.LOCAL_ROW_LIMIT`` rows: per iteration one
    ``np.unique`` counts the (node, neighbor label) votes and one
    ``lexsort`` picks (count DESC, label ASC) per node — one probe job
    in all, and the result is a LocalRelation.

    Distributed, per iteration: one CO-PARTITIONED equi-join (labels ⋈
    edges on src — the edge cache is hash(src)-partitioned once up front
    and every label generation comes out of its join/groupBy hash(node)
    partitioned, so the join needs no exchange and no broadcast; a
    per-iteration broadcast of the derived labels frame was its own
    build-job barrier, trap 13 — the same fix measured ~2× on the HITS
    loop) → one map-side-combined (node, label) count → a sign-safe
    min-struct argmax. Labels persist per generation, previous
    generation unpersisted — O(1) lineage. Returns (node, lab).
    """
    e0, g = _probe_graph(edges, src_col, dst_col)
    if g is not None:
        nodes, src, dst = g
        n = len(nodes)
        # a label is the index of its node: nodes are sorted, so index
        # order is id order and the smallest index is the smallest label
        lab = np.arange(n)
        for _ in range(iters):
            key, c = np.unique(dst * n + lab[src], return_counts=True)
            o = np.lexsort((key % n, -c, key // n))
            v, w = key[o] // n, key[o] % n
            first = np.diff(v, prepend=-1) != 0   # each node's winner
            lab[v[first]] = w[first]
        return local_relation(edges.sparkSession,
                              pa.table([nodes, nodes[lab]], ["node", "lab"]),
                              "node long, lab long")
    e = (e0.union(e0.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
         .distinct().repartition("src").persist())
    nodes = e.select(F.col("src").alias("node")).distinct().persist()
    n = nodes.count()
    e0.unpersist()     # e's cache is filled
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        return nodes.withColumn("lab", F.col("node"))

    # no dedicated materializing count: labels is a projection over the
    # (already counted) nodes cache; iteration 1 fills it in-job
    labels = nodes.select("node", F.col("node").alias("lab")).persist()
    for _ in range(iters):
        votes = (
            e.hint("merge")
            .join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "lab")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (c DESC, lab ASC) as ONE aggregate — min of
        # (-c, lab) picks the highest count, ties to the smallest
        # label, and is sign-safe for ANY label domain (negating the
        # label instead would invert ties for negative node ids). No
        # per-node window sort; the SQL twin keeps the row_number
        # formulation, so the two engines reach the same winner by
        # different routes.
        picked = (
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                F.col("lab"))).alias("m"))
            .select("node", F.col("m.lab").alias("lab"))
        )
        # prev ⋈ picked is CO-PARTITIONED at every scale: both sides are
        # node-cardinality hash(node) frames (labels from its cache,
        # picked from its groupBy), so the merge join needs no exchange;
        # a broadcast of the DERIVED picked frame would cost its own
        # build-job barrier per iteration (trap 13; measured 19 jobs →
        # 13 for the query with no warm-time win in r10).
        new_labels = (
            labels.select("node", F.col("lab").alias("__prev"))
            .hint("merge")
            .join(picked, "node", "left")
            .select("node",
                    F.coalesce(F.col("lab"), F.col("__prev")).alias("lab"))
            .persist()
        )
        new_labels.count()
        labels.unpersist()
        labels = new_labels
    e.unpersist()
    nodes.unpersist()
    return labels


def label_propagation_sql(edges_cte: str, iters: int = 5) -> str:
    """DuckDB replica of :func:`label_propagation`: the same synchronous
    rounds unrolled as chained CTEs — per round, per node, row_number
    over (count DESC, label ASC) picks the same winner the Spark window
    does, and the whole recurrence is BIGINT-only. ``edges_cte`` must
    SELECT (src, dst). Returns SQL producing (node, lab)."""
    parts = [
        (f"e0 AS (SELECT DISTINCT src, dst FROM ({edges_cte}) "
         f"WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)"),
        "e AS (SELECT src, dst FROM e0 UNION "
        "SELECT dst, src FROM e0)",
        "nodes AS (SELECT DISTINCT src AS node FROM e)",
        "l0 AS (SELECT node, node AS lab FROM nodes)",
    ]
    prev = "l0"
    for i in range(1, iters + 1):
        parts.append(f"""c{i} AS (
          SELECT e.dst AS node, p.lab, count(*) AS c
          FROM e JOIN {prev} p ON p.node = e.src
          GROUP BY 1, 2
        )""")
        parts.append(f"""p{i} AS (
          SELECT node, lab FROM (
            SELECT node, lab, row_number() OVER (
              PARTITION BY node ORDER BY c DESC, lab ASC) AS rn
            FROM c{i}
          ) WHERE rn = 1
        )""")
        parts.append(f"""l{i} AS (
          SELECT n.node, COALESCE(p.lab, n.lab) AS lab
          FROM {prev} n LEFT JOIN p{i} p ON p.node = n.node
        )""")
        prev = f"l{i}"
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, lab FROM {prev}")


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 16,
) -> DataFrame:
    """Nodes of the graph's k-core (the maximal subgraph where every
    node keeps degree ≥ k) by iterative peeling (Seidman 1983 /
    Batagelj-Zaveršnik): each round drops every node whose degree among
    SURVIVING nodes is < k, for at most ``rounds`` rounds — the
    spam-farm / link-quality filter of the graph tier. INTEGER-only
    like :func:`label_propagation`, so the unrolled twin
    (:func:`k_core_sql`) is exact with zero float discipline.

    Early stop is output-neutral by construction: the loop breaks only
    at a FIXED POINT (no node dropped), and peeling is idempotent
    there, so the oracle's remaining unrolled rounds are no-ops — the
    two engines agree whether the graph converges in 2 rounds or runs
    the full budget. A graph that has not converged in ``rounds``
    rounds yields the well-defined ``rounds``-peel over-approximation
    (both engines, same rounds).

    Plan per round: one CO-PARTITIONED semi-join of the dst-partitioned
    edge cache against the alive set (count v-alive neighbors per u for
    ALL u) and one map-side-combined degree count, with ZERO per-round
    broadcast builds (each n-guarded broadcast of the derived alive set
    was its own job barrier, trap 13 — the HITS/LPA loop fix) and the
    same single edge-scale exchange (the groupBy) the broadcast path
    already paid. No filter to alive u is needed: alive sets only
    shrink, so a node peeled in an earlier round has fewer than k
    neighbors in every later alive set. Each round references the
    previous alive set ONCE — with two references the plan description
    doubled per round (hundreds of MB after 16 rounds). The alive set
    persists per generation, previous unpersisted. Returns (node) — the
    surviving set.

    That loop is the distributed tier. When the deduplicated edge set
    has at most ``runtime.LOCAL_ROW_LIMIT`` rows, the same peel runs in
    process instead (module docstring): each round is one
    ``np.bincount`` of alive neighbors, the stop rule is the same fixed
    point, and the surviving set is a LocalRelation — one probe job in
    all.
    """
    if k < 1:
        raise ValueError("k_core: k must be >= 1")
    e0, g = _probe_graph(edges, src_col, dst_col)
    if g is not None:
        nodes, src, dst = g
        alive = np.ones(len(nodes), dtype=bool)
        for _ in range(rounds):
            new_alive = np.bincount(src[alive[dst]],
                                    minlength=len(nodes)) >= k
            if new_alive.sum() == alive.sum():   # fixed point
                break
            alive = new_alive
        return local_relation(edges.sparkSession,
                              pa.table([nodes[alive]], ["node"]),
                              "node long")
    e = (e0.union(e0.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
         .distinct().repartition("dst").persist())
    alive = e.select(F.col("src").alias("node")).distinct().persist()
    n = alive.count()
    e0.unpersist()     # e's cache is filled
    if n == 0:
        e.unpersist()
        return alive
    for _ in range(rounds):
        new_alive = (
            e.hint("merge")
            .join(alive.withColumnRenamed("node", "dst"), "dst", "leftsemi")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("__d"))
            .filter(F.col("__d") >= k)
            .select("node").persist())
        n_new = new_alive.count()
        alive.unpersist()
        alive = new_alive
        if n_new == n:       # fixed point: further peels are no-ops
            break
        n = n_new
    e.unpersist()
    return alive


def k_core_sql(edges_cte: str, k: int, rounds: int = 16) -> str:
    """DuckDB replica of :func:`k_core`: the peel unrolled as chained
    CTEs (a0 = all endpoints; a{i} = nodes with ≥ k surviving
    neighbors in a{i-1}) — BIGINT-only. ``edges_cte`` must SELECT
    (src, dst). Returns SQL producing (node)."""
    parts = [
        (f"e0 AS (SELECT DISTINCT src, dst FROM ({edges_cte}) "
         f"WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)"),
        # MATERIALIZED is load-bearing: every a{i} is referenced by TWO
        # IN-subqueries of round i+1 — inlined, DuckDB re-evaluates the
        # whole peel chain per reference (measured minutes vs 0.1-1 s)
        "e AS MATERIALIZED "
        "(SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)",
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e)",
    ]
    prev = "a0"
    for i in range(1, rounds + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
          SELECT e.src AS node
          FROM e
          WHERE e.src IN (SELECT node FROM {prev})
            AND e.dst IN (SELECT node FROM {prev})
          GROUP BY 1
          HAVING count(*) >= {int(k)}
        )""")
        prev = f"a{i}"
    return "WITH " + ",\n".join(parts) + f"\nSELECT node FROM {prev}"


def bfs_hops(
    edges: DataFrame,
    source: int,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Breadth-first hop distances from ``source`` over the undirected
    graph of ``edges`` (null endpoints and self-loops dropped): every
    node within ``rounds`` hops, with its hop count — the shortest-path
    surface DuckDB gets from recursive CTEs. ``source`` is always at
    ``d = 0``, even when no edge touches it. Integer-only, so an
    unrolled CTE twin (q158's oracle) replays it exactly.

    Two tiers (module docstring). In process, each round marks the
    unreached neighbors of the last frontier. Distributed, each round is
    one equi-join of the distances with the edges and one min-aggregate,
    persisted with the previous generation unpersisted (O(1) lineage).
    Both stop early at a fixed point, which leaves the result unchanged.
    Returns (node long, d int).
    """
    spark = edges.sparkSession
    source = int(source)
    e0, g = _probe_graph(edges, src_col, dst_col)
    if g is not None:
        nodes, src, dst = g
        dist = np.full(len(nodes), -1, dtype=np.int32)
        i = np.searchsorted(nodes, source)
        if i == len(nodes) or nodes[i] != source:
            return local_relation(spark, [(source, 0)], "node long, d int")
        dist[i] = 0
        for r in range(1, rounds + 1):
            reached = dst[dist[src] == r - 1]
            reached = reached[dist[reached] < 0]
            if not len(reached):
                break
            dist[reached] = r
        keep = dist >= 0
        return local_relation(spark, pa.table([nodes[keep], dist[keep]],
                                              ["node", "d"]),
                              "node long, d int")
    # both directions, read from e0's cache each round
    e = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    dist = local_relation(spark, [(source, 0)], "node long, d int")
    n = 1
    for r in range(1, rounds + 1):
        nxt = (dist.join(e, dist["node"] == e["src"])
               .select(F.col("dst").alias("node"),
                       F.lit(r).cast("int").alias("d")))
        new_dist = (dist.unionByName(nxt)
                    .groupBy("node").agg(F.min("d").alias("d"))
                    .persist())
        n_new = new_dist.count()
        dist.unpersist()
        dist = new_dist
        if n_new == n:       # fixed point: no node reached this round
            break
        n = n_new
    e0.unpersist()
    return dist


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 4,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999) — the classic
    link-analysis pair next to :func:`pagerank`: authorities are pages
    good hubs point AT, hubs are pages that point at good authorities.
    ``iters`` synchronous double-steps from h₀ = 1 on every source
    node:

        a_t(v) = Σ_{u→v} h_{t-1}(u)        (authority update)
        h_t(u) = Σ_{u→v} a_t(v)            (hub update)

    UNNORMALIZED on purpose: intra-iteration normalization needs a
    global-scalar round trip per step, but HITS scores are
    scale-invariant (the recurrence is power iteration on AᵀA / AAᵀ),
    so the caller normalizes ONCE at the end (q164 divides by the
    per-kind max in-plan). Magnitudes grow ~λ₁ᵗ — with bounded-degree
    graphs and the default 4 double-steps that stays far inside double
    range. Skipping the scalar keeps the loop at ONE materializing job
    per iteration with zero driver round-trips — fewer jobs than
    PageRank's mass collect.

    Cross-engine: every value is a sum of products of previous doubles
    replayed identically by :func:`hits_sql` (fixed iteration count,
    unrolled CTEs); the ~1e-13 relative drift from summation order
    disappears under the caller's 6-dp rounding after max-normalize.

    Plan per iteration: two edge-scale CO-PARTITIONED equi-joins + two
    map-side combined sums and ONE materializing job — the edge list is
    pre-partitioned ONCE by each join key (src for the authority step,
    dst for the hub step) and every iteration's aggregate comes out of
    its groupBy already partitioned on the next join's key, so no
    per-iteration exchange of the edges and no broadcast builds (a
    derived-frame broadcast is its own job barrier per join — trap 13;
    measured 13 jobs → 6 for 4 double-steps). The joins are pinned to
    sort-merge so a small cached generation can't re-trigger an
    auto-broadcast. This is also the 100-TB shape: the q161 LPA loop
    made the same broadcast-vs-co-partition call. Generations
    persist/unpersist so lineage stays O(1).
    Returns a tall (kind, node, score) frame — kind ∈ ('auth', 'hub'),
    nodes with zero score omitted (no in-/out-links respectively).
    """
    e = (edges.select(F.col(src_col).cast("long").alias("src"),
                      F.col(dst_col).cast("long").alias("dst"))
         .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .distinct())
    e_src = e.repartition("src").persist()
    # derive the dst layout FROM the src cache: one extra exchange once,
    # no second distinct pass
    e_dst = e_src.repartition("dst").persist()
    hubs = (e_src.select(F.col("src").alias("node")).distinct()
            .withColumn("s", F.lit(1.0)).persist())
    n = hubs.count()
    if n == 0:
        e_src.unpersist()
        e_dst.unpersist()
        return hubs.select(F.lit("hub").alias("kind"), "node", "s") \
            .withColumnRenamed("s", "score")
    auths = None
    for _ in range(iters):
        a = (
            e_src.hint("merge")
            .join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("s").alias("s"))
            .persist()
        )
        new_h = (
            e_dst.hint("merge")
            .join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("s").alias("s"))
            .persist()
        )
        # ONE job: materializing new_h scans a in full, filling BOTH
        # caches (the pagerank mass-join trick, without the collect)
        new_h.count()
        hubs.unpersist()
        if auths is not None:
            auths.unpersist()
        hubs, auths = new_h, a
    e_src.unpersist()
    e_dst.unpersist()
    out = (auths.select(F.lit("auth").alias("kind"), "node", "s")
           .unionAll(hubs.select(F.lit("hub").alias("kind"), "node", "s"))
           .withColumnRenamed("s", "score"))
    return out


def hits_sql(edges_cte: str, iters: int = 4) -> str:
    """DuckDB replica of :func:`hits`: the same unnormalized
    double-step recurrence unrolled as chained MATERIALIZED CTEs.
    ``edges_cte`` must SELECT (src, dst). Returns SQL producing
    (kind, node, score)."""
    parts = [
        (f"e AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
         f"({edges_cte}) WHERE src IS NOT NULL AND dst IS NOT NULL)"),
        ("h0 AS (SELECT DISTINCT src AS node, 1.0 AS s FROM e)"),
    ]
    prev = "h0"
    for i in range(1, iters + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
          SELECT e.dst AS node, sum(h.s) AS s
          FROM e JOIN {prev} h ON h.node = e.src
          GROUP BY 1
        )""")
        parts.append(f"""h{i} AS MATERIALIZED (
          SELECT e.src AS node, sum(a.s) AS s
          FROM e JOIN a{i} a ON a.node = e.dst
          GROUP BY 1
        )""")
        prev = f"h{i}"
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT 'auth' AS kind, node, s AS score FROM a{iters}"
            + f"\nUNION ALL SELECT 'hub' AS kind, node, s AS score "
            + f"FROM h{iters}")
