"""Spatial joins — the Spark replacement for the reference's optimizer
rewrite + R-tree (SURVEY §4).

The reference rewrites ``JOIN ... ON ST_Predicate(a, b)`` from a nested-loop
join into a 4-inequality bbox comparison join plus an exact post-filter
(``core/optimizer_rules.cpp:33-279``). Spark has no IEJoin, so the idiomatic
replacement is:

* **grid join** (``st_join``): explode each side's bbox onto a uniform grid
  → shuffle **equi-join on cell id** → col-expr bbox filter →
  reference-point dedup (a pair is kept only in the grid cell that contains
  the intersection's min corner — no ``distinct`` shuffle needed) → exact
  predicate via Arrow-batched kernel filter. Scales: the only shuffle is the
  equi-join on cell, AQE handles skewed cells, and cell size is chosen from
  a driver-side bbox sample.
* **broadcast join** (``st_join_broadcast``): small build side probed to
  the driver as one Arrow table and broadcast as it is; the probe side is
  streamed through ``mapInArrow`` with a grid-bucket index and bulk
  vectorized point-in-polygon, and each match is emitted as the left
  batch's and the build table's Arrow rows — the direct analog of the
  reference's prepared-geometry constant path (geos_executor.hpp:28-105).

``st_join`` auto-dispatches to broadcast when the right side is small.

Excluded predicates: ``st_disjoint`` (not bbox-implied — the reference
excludes it too, optimizer_rules.cpp:95).
"""

from __future__ import annotations

import math
import uuid
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom import kernels as K
from ..geom import vec as Vec
from ..geom.wkb import from_wkb
from ..functions import scalar as S
from .. import runtime
from ..runtime import probe_arrow

# predicate name → (kernel, needs_swap_for_bulk)
_KERNELS = {
    "intersects": K.intersects,
    "contains": K.contains,
    "containsproperly": K.contains_properly,
    "within": K.within,
    "covers": K.covers,
    "coveredby": K.covered_by,
    "crosses": K.crosses,
    "touches": K.touches,
    "overlaps": K.overlaps,
    "equals": K.equals,
}

BBOX_IMPLIED = frozenset(_KERNELS)  # all of these imply bbox intersection


def _norm_pred(predicate: str) -> str:
    p = predicate.lower().replace("st_", "").replace("_", "")
    if p == "containsproperly":
        return "containsproperly"
    if p not in _KERNELS:
        raise ValueError(
            f"unsupported join predicate {predicate!r}; one of {sorted(_KERNELS)} "
            "(st_disjoint is not join-accelerable, optimizer_rules.cpp:95)"
        )
    return p


def _with_bbox(df: DataFrame, geom: str, out: str) -> DataFrame:
    if isinstance(df.schema[geom].dataType, T.StructType):
        f = df.schema[geom].dataType.fieldNames()
        if set(f) >= {"xmin", "ymin", "xmax", "ymax"}:
            return df.withColumn(out, F.col(geom))
        if set(f) >= {"x", "y"}:  # POINT_2D struct: degenerate box
            return df.withColumn(
                out,
                F.struct(
                    F.col(geom)["x"].alias("xmin"),
                    F.col(geom)["y"].alias("ymin"),
                    F.col(geom)["x"].alias("xmax"),
                    F.col(geom)["y"].alias("ymax"),
                ),
            )
    return df.withColumn(out, S.st_extent(geom))


def _sample_cell_size(left: DataFrame, right: DataFrame, n: int = 2000) -> float:
    """Cell size ≈ a few × median bbox extent of the larger-extent side,
    from a tiny driver-side sample (the analog of the reference picking
    R-tree node capacity; layout constant, not data)."""
    sizes = []
    for df in (left, right):
        rows = df.select("__bbox").limit(n).collect()
        for r in rows:
            b = r["__bbox"]
            if b is None or b["xmin"] is None:
                continue
            sizes.append(max(b["xmax"] - b["xmin"], b["ymax"] - b["ymin"]))
    if not sizes:
        return 1.0
    arr = np.asarray(sizes)
    med = float(np.median(arr))
    p95 = float(np.percentile(arr, 95))
    cs = max(med * 4.0, p95)
    if cs <= 0:
        # all points: derive from global extent so ~1024 cells per axis
        ext = []
        for df in (left, right):
            agg = df.agg(
                F.min(F.col("__bbox")["xmin"]), F.max(F.col("__bbox")["xmax"]),
                F.min(F.col("__bbox")["ymin"]), F.max(F.col("__bbox")["ymax"]),
            ).collect()[0]
            if agg[0] is not None:
                ext.append(max(agg[1] - agg[0], agg[3] - agg[2]))
        cs = (max(ext) / 1024.0) if ext else 1.0
    return cs if cs > 0 else 1.0


def _cells(bbox: Column, cell: float) -> Tuple[Column, Column, Column, Column]:
    inv = 1.0 / cell
    return (
        F.floor(bbox["xmin"] * inv).cast("long"),
        F.floor(bbox["xmax"] * inv).cast("long"),
        F.floor(bbox["ymin"] * inv).cast("long"),
        F.floor(bbox["ymax"] * inv).cast("long"),
    )


def _explode_cells(df: DataFrame, cell: float) -> DataFrame:
    ix0, ix1, iy0, iy1 = _cells(F.col("__bbox"), cell)
    df = df.withColumn("__cx", F.explode(F.sequence(ix0, ix1)))
    df = df.withColumn("__cy", F.explode(F.sequence(iy0, iy1)))
    # single long key for the shuffle (21 bits per axis, offset to positive)
    return df.withColumn(
        "__cell", (F.col("__cx") + F.lit(1 << 20)) * F.lit(1 << 21)
        + (F.col("__cy") + F.lit(1 << 20))
    )


def _bounds_and_kind(mat: np.ndarray):
    """(bounds (n,4), is_point) when a uniform-shape WKB matrix is all
    points or all axis-aligned rectangles; (None, False) otherwise."""
    b = Vec.point_bounds(mat)
    if b is not None:
        return b, True
    b = Vec.rect_bounds(mat)
    if b is not None:
        return b, False
    return None, False


def _matrix_bounds(mat: np.ndarray) -> Optional[np.ndarray]:
    """(n,4) bboxes straight from a uniform-shape WKB matrix — points,
    rects, fixed-n linestrings, single-ring polygons — without building a
    single Geometry object; None for shapes the decoders don't cover."""
    b, _ = _bounds_and_kind(mat)
    if b is not None:
        return b
    for dec in (Vec.decode_linestrings, Vec.decode_polygons_1ring):
        c = dec(mat)
        if c is not None:
            return np.stack(
                [c[:, :, 0].min(axis=1), c[:, :, 1].min(axis=1),
                 c[:, :, 0].max(axis=1), c[:, :, 1].max(axis=1)], axis=1)
    return None


def _group_vectorized(pred: str, ma: np.ndarray, mb: np.ndarray):
    """Closed-form predicate over two same-shape WKB matrices, or None."""
    A, a_pt = _bounds_and_kind(ma)
    B, b_pt = _bounds_and_kind(mb)
    if A is not None and B is not None:
        return Vec.rect_predicate(pred, A, B, a_pt, b_pt)
    la = Vec.decode_linestrings(ma)
    lb = Vec.decode_linestrings(mb)
    if la is not None and lb is not None and la.shape[1] == 2 and lb.shape[1] == 2:
        return Vec.seg_predicate(pred, la, lb)
    return None


def _polygonal(g) -> bool:
    return g.type_id in (3, 6)  # POLYGON / MULTIPOLYGON: exact 0/1/2 locate


def _pip_bulk(pred: str, xs: np.ndarray, ys: np.ndarray, poly) -> Optional[np.ndarray]:
    """Bulk point-in-polygon for PiP-shaped predicates (point side first)."""
    if pred not in ("intersects", "within", "coveredby") or not _polygonal(poly):
        return None
    loc = K.points_in_geometry_bulk(xs, ys, poly)
    return loc == 2 if pred == "within" else loc >= 1


def pred_pairs(pred: str, avals, bvals, swap: bool = False) -> np.ndarray:
    """Vectorized pairwise predicate over two object arrays of WKB blobs.

    Rows are grouped by (len(a), len(b)) byte shape; each group tries the
    closed-form rect/point/segment kernels (the batch analog of the
    reference's prepared-geometry constant path, geos_executor.hpp:28-105),
    then a bulk point-in-polygon path against the distinct polygon blobs of
    the group, and only leftover mixed rows fall back to per-row kernels
    with a parse cache."""
    kern = _KERNELS[pred]
    if swap:
        avals, bvals = bvals, avals
    n = len(avals)
    out = np.zeros(n, dtype=bool)
    groups: Dict[Tuple[int, int], List[int]] = {}
    for i in range(n):
        a, b = avals[i], bvals[i]
        if a is None or b is None:
            continue
        groups.setdefault((len(a), len(b)), []).append(i)

    cache: Dict[bytes, object] = {}

    def parse(buf):
        g = cache.get(buf)
        if g is None:
            g = from_wkb(buf)
            cache[buf] = g
        return g

    for (la, lb), idxs in groups.items():
        idx = np.asarray(idxs)
        ma = np.frombuffer(
            b"".join(bytes(avals[i]) for i in idxs), dtype=np.uint8
        ).reshape(len(idx), la)
        mb = np.frombuffer(
            b"".join(bytes(bvals[i]) for i in idxs), dtype=np.uint8
        ).reshape(len(idx), lb)
        res = _group_vectorized(pred, ma, mb)
        if res is not None:
            out[idx] = res
            continue
        # point-vs-polygon: bulk PiP per distinct polygon blob
        pt = Vec.decode_points(ma)
        if pt is not None:
            xs, ys = pt
            by_blob: Dict[bytes, List[int]] = {}
            for k, i in enumerate(idxs):
                by_blob.setdefault(bytes(bvals[i]), []).append(k)
            ok = True
            res = np.zeros(len(idx), dtype=bool)
            for blob, ks in by_blob.items():
                karr = np.asarray(ks)
                want = _pip_bulk(pred, xs[karr], ys[karr], parse(blob))
                if want is None:
                    ok = False
                    break
                res[karr] = want
            if ok:
                out[idx] = res
                continue
        # polygon-vs-point (mirrored): contains/covers/intersects
        pt = Vec.decode_points(mb)
        if pt is not None and pred in ("intersects", "contains", "covers"):
            xs, ys = pt
            by_blob = {}
            for k, i in enumerate(idxs):
                by_blob.setdefault(bytes(avals[i]), []).append(k)
            ok = True
            res = np.zeros(len(idx), dtype=bool)
            for blob, ks in by_blob.items():
                g = parse(blob)
                if not _polygonal(g):
                    ok = False
                    break
                karr = np.asarray(ks)
                loc = K.points_in_geometry_bulk(xs[karr], ys[karr], g)
                res[karr] = loc == 2 if pred == "contains" else loc >= 1
            if ok:
                out[idx] = res
                continue
        for i in idxs:
            out[i] = bool(kern(parse(bytes(avals[i])), parse(bytes(bvals[i]))))
    return out


def _geom_bytes(table: pa.Table, geom: str) -> int:
    """Total WKB bytes of a probed build side's geometry column."""
    return pc.sum(pc.binary_length(table.column(geom))).as_py() or 0


def _pred_udf(pred: str, swap: bool = False):
    @F.pandas_udf(T.BooleanType())
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            pred_pairs(pred, a.to_numpy(dtype=object), b.to_numpy(dtype=object), swap)
        )

    return f


def st_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    left_geom: str = "geom",
    right_geom: str = "geom",
    cell_size: Optional[float] = None,
    broadcast_threshold: int = 200_000,
    broadcast_byte_budget: int = 256 << 20,
    how: str = "inner",
) -> DataFrame:
    """Spatial join on any bbox-implied predicate.

    Output: left columns + right columns (names must not collide except the
    geometry columns, which stay distinct via their own names).
    """
    pred = _norm_pred(predicate)
    if how != "inner":
        raise NotImplementedError("v1 supports inner spatial joins")
    overlap = (set(left.columns) & set(right.columns)) - set()
    if overlap:
        raise ValueError(f"column name collision between sides: {sorted(overlap)}")

    # small right side → broadcast path (prepared-geometry analog). The
    # bounded probe stops a too-big right side after threshold+1 rows (no
    # full count of a derived plan); the byte budget is checked on the
    # probed table, which doubles as the build side.
    if broadcast_threshold > 0:
        table = probe_arrow(right, broadcast_threshold)
        if (table is not None and _geom_bytes(table, right_geom)
                <= broadcast_byte_budget):
            return _broadcast(left, right.schema, table, right_geom,
                              _geom_pairs(pred, left_geom, right_geom))

    L = _with_bbox(left, left_geom, "__bbox")
    R = _with_bbox(right, right_geom, "__bbox")
    if cell_size is None:
        cell_size = _sample_cell_size(L, R)

    Le = _explode_cells(L, cell_size).withColumnRenamed("__bbox", "__lbox")
    Re = _explode_cells(R, cell_size).withColumnRenamed("__bbox", "__rbox")
    Le = Le.drop("__cx", "__cy")
    Re = Re.drop("__cx", "__cy")

    joined = Le.join(Re, on="__cell", how="inner")

    lb, rb = F.col("__lbox"), F.col("__rbox")
    bbox_ok = (
        (lb["xmin"] <= rb["xmax"]) & (lb["xmax"] >= rb["xmin"])
        & (lb["ymin"] <= rb["ymax"]) & (lb["ymax"] >= rb["ymin"])
    )
    # reference-point dedup: keep the pair only in the cell owning the
    # min corner of the bbox intersection (no distinct → no extra shuffle)
    inv = 1.0 / cell_size
    rx = F.greatest(lb["xmin"], rb["xmin"])
    ry = F.greatest(lb["ymin"], rb["ymin"])
    owner = (F.floor(rx * inv).cast("long") + F.lit(1 << 20)) * F.lit(1 << 21) + (
        F.floor(ry * inv).cast("long") + F.lit(1 << 20)
    )
    joined = joined.filter(bbox_ok & (owner == F.col("__cell")))

    exact = _pred_udf(pred)
    joined = joined.filter(exact(F.col(left_geom), F.col(right_geom)))
    return joined.drop("__cell", "__lbox", "__rbox")


# ------------------------------------------------------------------ broadcast

class _GridIndex:
    """Uniform-grid bucket index over the build side — the role the
    reference's R-tree / prepared geometries play per probe thread."""

    def __init__(self, bounds: np.ndarray, cell: float):
        self.cell = cell
        self.buckets: Dict[Tuple[int, int], List[int]] = {}
        inv = 1.0 / cell
        for i, (xmin, ymin, xmax, ymax) in enumerate(bounds):
            if not np.isfinite(xmin):
                continue
            for cx in range(int(math.floor(xmin * inv)), int(math.floor(xmax * inv)) + 1):
                for cy in range(int(math.floor(ymin * inv)), int(math.floor(ymax * inv)) + 1):
                    self.buckets.setdefault((cx, cy), []).append(i)

    def query(self, xmin, ymin, xmax, ymax) -> List[int]:
        inv = 1.0 / self.cell
        out: List[int] = []
        seen = set()
        for cx in range(int(math.floor(xmin * inv)), int(math.floor(xmax * inv)) + 1):
            for cy in range(int(math.floor(ymin * inv)), int(math.floor(ymax * inv)) + 1):
                for i in self.buckets.get((cx, cy), ()):
                    if i not in seen:
                        seen.add(i)
                        out.append(i)
        return out


# executor-side build cache: token → the decoded build side. The build is
# broadcast as the probed Arrow table (the driver neither decodes nor
# pickles geometry for it); each worker process decodes and indexes its
# geometry column once, keyed by a per-join token.
_BUILD_CACHE: Dict[str, tuple] = {}


def _decode(blobs) -> Tuple[list, np.ndarray]:
    """The Geometry (None for a null blob) and the (n, 4) bounds (NaN for
    a null or empty geometry) of each WKB blob."""
    geoms = [from_wkb(b) if b is not None else None for b in blobs]
    bounds = [(g.bounds() if g is not None else None) or (np.nan,) * 4
              for g in geoms]
    return geoms, np.asarray(bounds, dtype=np.float64).reshape(-1, 4)


def _build_side(token: str, table: pa.Table, geom: str):
    """(rows, geoms, bounds, index) of a broadcast build table: ``rows`` is
    the table as one RecordBatch, its ``geom`` column decoded and
    grid-indexed once per process and join token."""
    cached = _BUILD_CACHE.get(token)
    if cached is not None:
        return cached
    rows = pa.RecordBatch.from_arrays(
        [c.combine_chunks() for c in table.columns], schema=table.schema)
    geoms, bounds = _decode(rows.column(geom).to_pylist())
    if np.isfinite(bounds).any():
        w = np.nanmax(bounds[:, 2]) - np.nanmin(bounds[:, 0])
        h = np.nanmax(bounds[:, 3]) - np.nanmin(bounds[:, 1])
        ncell = max(1.0, math.sqrt(len(bounds)))
        cell = max(max(w, h) / ncell, 1e-9)
    else:
        cell = 1.0
    out = (rows, geoms, bounds, _GridIndex(bounds, cell))
    if len(_BUILD_CACHE) > 8:
        _BUILD_CACHE.clear()
    _BUILD_CACHE[token] = out
    return out


def _indices(parts: List[np.ndarray]) -> np.ndarray:
    return np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)


def _point_hits(pred: str, xs: np.ndarray, ys: np.ndarray, build):
    """(li, rj): each probe point ``li`` and build row ``rj`` with
    ``pred(point, geometry)`` — 'within' counts the interior only,
    'intersects'/'coveredby' the boundary too — by one bulk
    point-in-geometry call per candidate build geometry."""
    _, geoms, bounds, idx = build
    if len(geoms) <= 64:
        # few build geometries: one vectorized bbox mask per geometry
        # beats per-point bucket lookups outright
        cand = {}
        for j, (x0, y0, x1, y1) in enumerate(bounds):
            if np.isfinite(x0):
                m = (xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)
                if m.any():
                    cand[j] = np.flatnonzero(m)
    else:
        # bucket the points by grid cell once
        lists: Dict[int, List[int]] = {}
        ok = np.flatnonzero(np.isfinite(xs) & np.isfinite(ys))
        inv = 1.0 / idx.cell
        cx = np.floor(xs[ok] * inv).astype(np.int64).tolist()
        cy = np.floor(ys[ok] * inv).astype(np.int64).tolist()
        for k, key in zip(ok.tolist(), zip(cx, cy)):
            for j in idx.buckets.get(key, ()):
                lists.setdefault(j, []).append(k)
        cand = {j: np.asarray(ks) for j, ks in lists.items()}
    li, rj = [], []
    for j, ks in cand.items():
        loc = K.points_in_geometry_bulk(xs[ks], ys[ks], geoms[j])
        hit = ks[loc == 2 if pred == "within" else loc >= 1]
        li.append(hit)
        rj.append(np.full(len(hit), j))
    return _indices(li), _indices(rj)


def _geom_pairs(pred: str, left_geom: str, right_geom: str):
    """The probe of ``st_join_broadcast``: (li, rj) of a left batch's WKB
    column against the build side."""
    kern = _KERNELS[pred]
    pip = pred in ("within", "coveredby", "intersects")

    def pairs(batch: pa.RecordBatch, build):
        rows, geoms, bounds, idx = build
        lseries = batch.column(left_geom).to_pandas()
        mat = Vec.fixed_matrix(lseries)
        pts = Vec.decode_points(mat) if mat is not None and pip else None
        if pts is not None:
            # uniform point batch: skip Geometry objects entirely
            return _point_hits(pred, pts[0], pts[1], build)
        bds = _matrix_bounds(mat) if mat is not None else None
        if bds is not None:
            # uniform NON-point batch (all rects / fixed-n lines /
            # same-ring polygons): bboxes come straight off the WKB
            # matrix, the grid index yields candidate pairs, and ONE
            # pred_pairs call evaluates them — rect-rect groups go
            # fully vectorized, repeated build blobs parse once via
            # its cache. This was the 100k-rect probe hot path that
            # previously built a Geometry per row + ran a python
            # kernel per candidate (~35× slower, scale_probe).
            fin = np.flatnonzero(np.isfinite(bds[:, 0]))
            if len(geoms) <= 64:
                # few builds: one vectorized bbox-overlap mask per
                # build beats per-probe bucket lookups outright
                li, rj = [], []
                b = bds[fin]
                for j, (x0, y0, x1, y1) in enumerate(bounds):
                    if np.isfinite(x0):
                        hits = fin[(b[:, 0] <= x1) & (b[:, 2] >= x0)
                                   & (b[:, 1] <= y1) & (b[:, 3] >= y0)]
                        li.append(hits)
                        rj.append(np.full(len(hits), j))
                li, rj = _indices(li), _indices(rj)
            else:
                ij = [(i, j) for i in fin.tolist() for j in idx.query(*bds[i])]
                li = np.asarray([i for i, _ in ij], dtype=np.int64)
                rj = np.asarray([j for _, j in ij], dtype=np.int64)
            ok = pred_pairs(
                pred, lseries.to_numpy(dtype=object)[li],
                rows.column(right_geom).take(rj).to_numpy(
                    zero_copy_only=False))
            return li[ok], rj[ok]
        # mixed shapes or nulls: one Geometry per row; single non-empty
        # points still take the bulk path
        li, rj, pi, pxy = [], [], [], []
        for i, b in enumerate(lseries):
            g = from_wkb(b) if b is not None else None
            if g is None or g.is_empty():
                continue
            if pip and g.type_id == 1:
                pi.append(i)
                pxy.append((float(g.coords[0]), float(g.coords[1])))
                continue
            for j in idx.query(*g.bounds()):
                rg = geoms[j]
                if rg is not None and kern(g, rg):
                    li.append(i)
                    rj.append(j)
        if pi:
            xy = np.asarray(pxy)
            k, j = _point_hits(pred, xy[:, 0], xy[:, 1], build)
            li.extend(np.asarray(pi)[k].tolist())
            rj.extend(j.tolist())
        return np.asarray(li, dtype=np.int64), np.asarray(rj, dtype=np.int64)

    return pairs


def _broadcast(left: DataFrame, right_schema: T.StructType, table: pa.Table,
               right_geom: str, pairs) -> DataFrame:
    """``left`` joined to a probed build table through ``mapInArrow``.
    The table is broadcast as it is; per left batch ``pairs(batch,
    build)`` gives the (li, rj) index arrays of the matches, emitted as
    ``batch.take(li)`` beside the build rows' ``take(rj)``, so both sides'
    columns pass through in Arrow, never decoded to Python values."""
    bc = left.sparkSession.sparkContext.broadcast(
        (uuid.uuid4().hex, table, right_geom))
    out_schema = T.StructType(list(left.schema.fields) + list(right_schema.fields))
    names = out_schema.fieldNames()

    def probe(batches):
        build = _build_side(*bc.value)
        for batch in batches:
            if not batch.num_rows:
                continue
            li, rj = pairs(batch, build)
            if len(li):
                yield pa.RecordBatch.from_arrays(
                    batch.take(li).columns + build[0].take(rj).columns,
                    names=names)

    return left.mapInArrow(probe, out_schema)


def st_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    left_geom: str = "geom",
    right_geom: str = "geom",
) -> DataFrame:
    """Broadcast spatial join: the build side (right, at most
    ``runtime.LOCAL_ROW_LIMIT`` rows) is probed to the driver as one Arrow
    table, broadcast as it is, decoded + grid-indexed once per worker and
    probed per Arrow batch of ``left``. Point probes against polygon
    builds take the bulk-vectorized PiP path."""
    pred = _norm_pred(predicate)
    table = probe_arrow(right)
    if table is None:
        raise ValueError(
            f"st_join_broadcast: right side exceeds the broadcast budget "
            f"(>{runtime.LOCAL_ROW_LIMIT} rows) — use st_join "
            "(grid-partitioned tier) for build sides this large")
    return _broadcast(left, right.schema, table, right_geom,
                      _geom_pairs(pred, left_geom, right_geom))


def st_join_points(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "within",
    x: str = "x",
    y: str = "y",
    right_geom: str = "geom",
    broadcast_threshold: int = 200_000,
    broadcast_byte_budget: int = 256 << 20,
) -> DataFrame:
    """Broadcast point-probe spatial join on raw double columns — the
    POINT_2D tier of ``st_join_broadcast``. The probe side never builds or
    decodes WKB: one python stage reads ``x``/``y`` straight from the Arrow
    batch and runs the bulk point-in-geometry kernel per candidate build
    geometry. This is the 100-TB shape for points-in-polygons: the build
    side is broadcast once, the probe is a single narrow scan.

    ``predicate``: 'within' (interior only), 'intersects'/'coveredby'
    (boundary counts), per the reference's ST_Within/ST_Intersects
    point-polygon semantics (core/.../st_contains.cpp:16-110).
    """
    pred = _norm_pred(predicate)
    if pred not in ("within", "intersects", "coveredby"):
        raise ValueError(f"st_join_points supports within/intersects/coveredby, got {pred}")
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"column name collision between sides: {sorted(overlap)}")

    # Broadcast guard, same shape as st_join's: one bounded probe stops
    # scanning after threshold+1 rows (no full count of a derived right
    # plan), and the probed table doubles as the build side. An
    # over-budget right side redirects to the grid tier (st_join) instead
    # of OOMing the driver/executors with an unguarded collect.
    table = probe_arrow(right, broadcast_threshold)
    if table is None or _geom_bytes(table, right_geom) > broadcast_byte_budget:
        raise ValueError(
            f"st_join_points: right side exceeds the broadcast budget "
            f"(>{broadcast_threshold} rows or >{broadcast_byte_budget >> 20}"
            " MiB of geometry) — use st_join (grid-partitioned tier) for "
            "build sides this large, or raise the thresholds explicitly")
    geoms, _ = _decode(table.column(right_geom).to_pylist())

    # all-rectangle build side → pure col-expr broadcast nested-loop plan:
    # zero Python stages, whole-stage codegen end to end (the reference's
    # BOX_2D fast path shape). 'within' is strict-interior, the others
    # include the boundary. Built by local_relation, a bounded build side
    # is a LocalRelation whose broadcast needs no job and no Python task.
    boxes = [K._is_axis_box(g) if g is not None else None for g in geoms]
    if geoms and all(bx is not None for bx in boxes):
        from ..sources.tables import local_relation

        box_cols = ("__bx0", "__by0", "__bx1", "__by1")
        for c, vals in zip(box_cols, zip(*boxes)):
            table = table.append_column(c, pa.array(vals, pa.float64()))
        schema2 = T.StructType(
            list(right.schema.fields)
            + [T.StructField(c, T.DoubleType()) for c in box_cols]
        )
        bdf = local_relation(left.sparkSession, table, schema2)
        px, py = F.col(x), F.col(y)
        if pred == "within":
            cond = (
                (px > F.col("__bx0")) & (px < F.col("__bx1"))
                & (py > F.col("__by0")) & (py < F.col("__by1"))
            )
        else:
            cond = (
                (px >= F.col("__bx0")) & (px <= F.col("__bx1"))
                & (py >= F.col("__by0")) & (py <= F.col("__by1"))
            )
        return (
            left.crossJoin(F.broadcast(bdf))
            .filter(cond)
            .drop(*box_cols)
        )

    def doubles(batch, name):
        return batch.column(name).cast(pa.float64()).to_numpy(
            zero_copy_only=False)

    return _broadcast(
        left, right.schema, table, right_geom,
        lambda batch, build: _point_hits(
            pred, doubles(batch, x), doubles(batch, y), build))
