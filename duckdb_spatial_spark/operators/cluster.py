"""Spatial layout & pruning — the Spark replacement for CREATE INDEX ...
USING RTREE (SURVEY §2.K, §4.2).

The reference builds a persistent R-tree (STR bulk load sorted by xmin,
rtree_index_create_physical.cpp:174-177) and swaps seq-scans for index scans
when a filter has a constant-foldable spatial predicate
(rtree_index_plan_scan.cpp). Spark's equivalent capability is **layout**:

* ``st_cluster(df, ...)`` — add a Hilbert key over the data's extent and
  ``repartitionByRange(hilbert) + sortWithinPartitions``, so spatially-near
  rows land in the same Parquet files/row-groups;
* persist bbox / x,y as plain DOUBLE (or struct) columns so Parquet keeps
  min/max page stats on them;
* ``st_filter(df, ...)`` — inject the bbox conjunct (pure col-expr, pushed
  by Catalyst into the Parquet reader → row-group pruning) and re-apply the
  exact predicate on survivors, exactly the rewrite shape of
  rtree_index_plan_scan.cpp:88-103 (constant bounds extraction + exact
  post-filter).
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import scalar as S
from ..geom.wkt import from_wkt
from ..geom import kernels as K
from ..sources.tables import local_relation


def st_cluster(
    df: DataFrame,
    x: str,
    y: str,
    extent: Optional[Tuple[float, float, float, float]] = None,
    num_partitions: Optional[int] = None,
    order: int = 16,
    key_col: str = "__hilbert",
) -> DataFrame:
    """Hilbert-cluster by point columns. ``extent`` defaults to the data's
    global extent (one cheap agg). Result is range-partitioned and sorted by
    the hilbert key — write to Parquet to get pruning on x/y predicates."""
    if extent is None:
        row = df.agg(F.min(x), F.max(x), F.min(y), F.max(y)).collect()[0]
        extent = (row[0], row[2], row[1], row[3])
    xmin, ymin, xmax, ymax = extent
    keyed = df.withColumn(
        key_col, S.st_hilbert_xy(x, y, xmin, ymin, xmax, ymax, order=order)
    )
    np_ = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        keyed.repartitionByRange(np_, key_col)
        .sortWithinPartitions(key_col)
        .drop(key_col)
    )


def st_cluster_bbox(
    df: DataFrame,
    bbox_col: str = "bbox",
    extent: Optional[Tuple[float, float, float, float]] = None,
    num_partitions: Optional[int] = None,
    order: int = 16,
) -> DataFrame:
    """Hilbert-cluster by bbox center (general geometries)."""
    cx = (F.col(bbox_col)["xmin"] + F.col(bbox_col)["xmax"]) / 2
    cy = (F.col(bbox_col)["ymin"] + F.col(bbox_col)["ymax"]) / 2
    tmp = df.withColumn("__cx", cx).withColumn("__cy", cy)
    out = st_cluster(tmp, "__cx", "__cy", extent=extent,
                     num_partitions=num_partitions, order=order)
    return out.drop("__cx", "__cy")


def st_cluster_append(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    extent: Optional[Tuple[float, float, float, float]] = None,
    num_partitions: Optional[int] = None,
    order: int = 16,
) -> None:
    """Incrementally add rows to an existing Hilbert-clustered Parquet
    dataset — the maintenance analog of the reference R-tree's insert
    path (rtree.cpp:75-267, exercised by rtree_crud.test): new rows land
    in fresh hilbert-sorted files without touching existing ones, so
    query results are immediately correct (a Parquet scan is the union
    of files) and pruning quality degrades only gradually — each
    appended file carries its own tight min/max stats — until
    :func:`st_cluster_compact` merges the small files.

    ``num_partitions`` defaults to 1 for appends (a batch usually is a
    small fraction of the dataset; one sorted file per append keeps the
    file count linear in the number of appends, not in cores).
    Not concurrent-safe: like the reference's index maintenance, run
    appends/compaction from a single maintenance job.
    """
    out = st_cluster(df, x, y, extent=extent,
                     num_partitions=num_partitions or 1, order=order)
    out.write.mode("append").parquet(path)


def st_cluster_compact(
    spark,
    path: str,
    x: str,
    y: str,
    small_file_bytes: int = 16 << 20,
    extent: Optional[Tuple[float, float, float, float]] = None,
    num_partitions: Optional[int] = None,
    order: int = 16,
) -> int:
    """Merge the small files a sequence of :func:`st_cluster_append`
    calls leaves behind — the analog of the reference R-tree's node
    merge/vacuum on delete+insert churn (rtree.cpp:228-267). Minor
    compaction, not a full rewrite: files ≥ ``small_file_bytes`` are
    left untouched (at scale you never rewrite the clustered bulk), the
    small ones are read, re-clustered as one sorted batch, written as
    fresh files, and the originals deleted. Returns the number of files
    compacted away (0 = nothing to do).

    Non-transactional (plain Parquet directory, no table format): run
    offline like the reference's index build. A crash between write and
    delete leaves duplicates — use a table format (Iceberg/Delta) when
    atomic swap matters.
    """
    import glob as _glob
    import os

    files = sorted(
        f for f in _glob.glob(os.path.join(path, "*.parquet"))
        if os.path.getsize(f) < small_file_bytes
    )
    if len(files) < 2:
        return 0
    from ..sources.tables import parquet_minmax, read_layout

    small = read_layout(spark, *files)
    if extent is None:
        # the batch extent is exactly the footers' min/max stats on the
        # small files (driver-side metadata) — skips st_cluster's
        # extent-agg job; degenerate stats (NaN/all-null) fall back to
        # the agg inside st_cluster
        mm = parquet_minmax(files, [x, y])
        if mm:
            extent = (mm[x][0], mm[y][0], mm[x][1], mm[y][1])
    st_cluster(
        small, x, y, extent=extent,
        num_partitions=num_partitions or 1, order=order,
    ).write.mode("append").parquet(path)
    for f in files:
        os.remove(f)
        for side in (f + ".crc", os.path.join(
                os.path.dirname(f), "." + os.path.basename(f) + ".crc")):
            if os.path.exists(side):
                os.remove(side)
    return len(files)


def st_cluster_delete(
    spark,
    path: str,
    where: str,
) -> int:
    """Delete rows matching a SQL predicate from a Hilbert-clustered
    Parquet dataset by rewriting ONLY the affected files — the
    maintenance analog of the reference R-tree's delete path
    (rtree.cpp:75-267 RTreeIndex::Delete with node shrink/rebalance;
    exercised by test/sql/index/rtree_crud.test:14,37 — predicate
    DELETE and full-table DELETE). Completes the CRUD story next to
    :func:`st_cluster_append` (insert) and :func:`st_cluster_compact`
    (vacuum/merge).

    DELETE semantics match SQL: rows where ``where`` evaluates TRUE are
    removed; FALSE **and NULL** rows survive.

    Scale shape: finding the affected files is one aggregation over the
    filtered scan (``input_file_name`` groupBy — output bounded by the
    file count, and a pushable predicate prunes via the same min/max
    stats queries use: hilbert locality means a spatially tight delete
    touches few files). Only those files are then re-read, anti-filtered
    and rewritten as fresh files; the untouched bulk — at 100 TB,
    ~everything — is never read. Files whose every row dies are simply
    removed. New-files-then-delete-originals ordering gives the same
    non-transactional crash story as :func:`st_cluster_compact`
    (duplicates, never loss); use a table format when atomic swap
    matters.

    Returns the number of rows deleted.
    """
    import os
    from urllib.parse import unquote, urlparse

    from ..sources.tables import read_layout

    pred = F.expr(where)
    ds = read_layout(spark, path)
    # one job: per-file deleted-row counts == the affected-file list
    hits = (
        ds.filter(pred)
        .groupBy(F.input_file_name().alias("__f"))
        .agg(F.count("*").alias("__n"))
        .collect()
    )
    if not hits:
        return 0
    files = sorted(unquote(urlparse(r["__f"]).path) for r in hits)
    deleted = sum(r["__n"] for r in hits)
    survivors = (
        spark.read.schema(ds.schema).parquet(*files)
        .filter(~F.coalesce(pred, F.lit(False)))
    )
    # each rewritten file keeps rows from hilbert-contiguous source files
    # (scan order is file-major), so file-level min/max stats stay tight
    survivors.write.mode("append").parquet(path)
    for f in files:
        os.remove(f)
        for side in (f + ".crc", os.path.join(
                os.path.dirname(f), "." + os.path.basename(f) + ".crc")):
            if os.path.exists(side):
                os.remove(side)
    return int(deleted)


def st_filter_points(
    df: DataFrame,
    x: str,
    y: str,
    query_wkt: str,
    predicate: str = "within",
) -> DataFrame:
    """Filter point rows by a constant geometry: bbox conjunct first (pure
    col-expr on the x/y columns → Parquet min/max pruning), then the exact
    predicate only when the constant isn't its own bbox.

    This is the EP3-query analog: the reference extracts the constant's
    cached bbox (rtree_index_plan_scan.cpp:88-103) and keeps the exact
    predicate as a post-filter."""
    g = from_wkt(query_wkt)
    b = g.bounds()
    if b is None:
        return df.filter(F.lit(False))
    xmin, ymin, xmax, ymax = b
    strict = predicate in ("within", "containsproperly")
    coarse = S.st_point_in_box(x, y, xmin, ymin, xmax, ymax, strict=strict)
    out = df.filter(coarse)
    if K._is_axis_box(g) is not None:
        return out  # constant is a pure envelope: bbox test IS exact
    exact_geom = S.st_point(x, y)
    from .join import _pred_udf, _norm_pred

    pred = _norm_pred(predicate)
    const = F.lit(bytearray(__import__("duckdb_spatial_spark.geom.wkb", fromlist=["to_wkb"]).to_wkb(g)))
    return out.filter(_pred_udf(pred)(exact_geom, const))


def with_bbox_columns(df: DataFrame, geom: str = "geom", prefix: str = "") -> DataFrame:
    """Materialize xmin/ymin/xmax/ymax DOUBLE columns next to a GEOMETRY —
    the persistent replacement for the reference's cached header bbox
    (geometry_type.hpp:100-146). Write these to Parquet: min/max row-group
    stats on them are what replaces the R-tree."""
    box = S.st_extent(geom)
    return (
        df.withColumn(prefix + "xmin", box["xmin"])
        .withColumn(prefix + "ymin", box["ymin"])
        .withColumn(prefix + "xmax", box["xmax"])
        .withColumn(prefix + "ymax", box["ymax"])
    )


def st_layout_info(spark, path: str, bbox_cols=("xmin", "ymin", "xmax", "ymax")) -> DataFrame:
    """Layout introspection over a Parquet dataset — the analog of the
    reference's ``pragma_rtree_index_info`` / ``rtree_index_dump``
    (rtree_index_pragmas.cpp:234-244): one row per row-group with row/byte
    counts and the min/max stats of the bbox columns, i.e. the exact
    "node bounding boxes" the pruning path consults. Driver-side footer
    reads only (metadata, not data)."""
    import os

    import pyarrow.parquet as pq

    paths = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            paths.extend(
                os.path.join(root, f) for f in files if f.endswith(".parquet")
            )
    else:
        paths = [path]

    rows = []
    for p in sorted(paths):
        try:
            meta = pq.ParquetFile(p).metadata
        except Exception:
            continue
        name_to_idx = {meta.schema.column(i).name: i
                       for i in range(meta.num_columns)}
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            stats = {}
            for c in bbox_cols:
                idx = name_to_idx.get(c)
                if idx is None:
                    continue
                s = g.column(idx).statistics
                if s is not None and s.has_min_max:
                    stats[c + "_min"] = float(s.min)
                    stats[c + "_max"] = float(s.max)
            rows.append((
                os.path.basename(p), rg, g.num_rows, g.total_byte_size,
                stats.get(bbox_cols[0] + "_min"), stats.get(bbox_cols[1] + "_min"),
                stats.get(bbox_cols[2] + "_max"), stats.get(bbox_cols[3] + "_max"),
            ))
    return local_relation(
        spark, rows,
        "file string, row_group int, rows long, bytes long, "
        "xmin double, ymin double, xmax double, ymax double")
