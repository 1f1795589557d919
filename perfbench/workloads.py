"""The benchmark's workloads: which driver queries each one runs, and why.

Each workload is a fixed set of ``__spark_entry__`` queries. One pass runs
every query of the set once, in an order drawn from the run's seed. A run
executes ``round(seconds / PASS_S)`` timed passes, at least
``MIN_PASSES``, so its sample count is fixed by its arguments.

``spatial`` and ``pipeline`` are the gated workloads of BENCHMARK.json:
their warm passes take 3.5-5 s of wall time at local[4] on a 4-core host,
and a whole run 40-65 s. ``graph_index``, ``write_stream`` and
``streaming`` hold longer query lists for by-hand runs (a run takes 2-4
minutes).
"""
from __future__ import annotations

PASS_S = 4.0
MIN_PASSES = 3

WORKLOADS = {
    # The duckdb-spatial surface: R-tree envelope and points workloads
    # (BASELINE #1-#2), DWithin, polygon intersection, buffer, shortest
    # line and the point-in-polygon join. Geometry kernels behind pandas
    # UDFs and the spatial join operator; no writes.
    "spatial": ["q01", "q61", "q36", "q32", "q52", "q02", "q57"],
    # The pipeline tier, no geometry kernels on the hot path: iterative
    # graph operators (BFS, k-core), exact / fingerprint / MinHash dedup,
    # the MinHash LSH index and a GeoJSON write-read round trip. Bound by
    # driver-side planning and job count.
    "pipeline": ["q158", "q162", "q18", "q19", "q22", "q99", "q46"],
    # by-hand workloads
    "graph_index": ["q96", "q161", "q162", "q164", "q117", "q158", "q128",
                    "q69", "q131", "q99"],
    "write_stream": ["q46", "q65", "q68", "q80", "q109", "q125", "q129",
                     "q137", "q75", "q81", "q91", "q138", "q142", "q153",
                     "q160"],
    "streaming": ["q75", "q81", "q91", "q138", "q142", "q153", "q160"],
}


def query_names(entry_queries, workload: str) -> list[str]:
    """Full ``queries()`` keys of a workload, e.g. 'q01' → 'q01_point_in_envelope'."""
    by_prefix = {k.split("_", 1)[0]: k for k in entry_queries}
    return [by_prefix[q] for q in WORKLOADS[workload]]
