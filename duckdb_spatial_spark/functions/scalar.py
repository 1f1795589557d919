"""Scalar ST_* function surface — Spark Column API.

Two execution tiers, mirroring the reference's native-vs-GEOS split
(SURVEY §2):

* **col-expr** — pure ``pyspark.sql.functions`` Column arithmetic that stays
  inside whole-stage codegen (JVM, no Python worker). Used for everything
  point/bbox shaped: ``st_distance_sphere``, ``st_hilbert``, ``st_quadkey``,
  bbox predicates, POINT_2D struct accessors. These are the 100-TB hot paths.
* **pUDF** — Arrow-batched pandas UDFs wrapping the NumPy kernels in
  ``..geom.kernels`` for general GEOMETRY (WKB ``BinaryType``) semantics.
  This replaces the reference's GEOS binding (its per-thread
  ``GEOSFunctionLocalState``, geos/functions/common.hpp → our per-batch
  parse).

GEOMETRY convention: ISO WKB in a BinaryType column. POINT_2D/BOX_2D
conventions: ``struct<x,y>`` / ``struct<xmin,ymin,xmax,ymax>`` (SURVEY §1.1).
"""

from __future__ import annotations

import math
from typing import List, Optional, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..geom import kernels as K
from ..geom import vec as V
from ..geom.core import Geometry
from ..geom import wkb as Wkb
from ..geom.wkb import from_wkb, to_wkb
from ..geom.wkt import from_wkt, to_wkt

ColumnOrName = Union[Column, str]

BOX2D_TYPE = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)
POINT2D_TYPE = T.StructType(
    [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
)


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# =================================================== constructor fusion tags
#
# Constructor functions (st_point / st_makeenvelope / st_makeline /
# st_buffer(point) / st_shortestline) annotate the Column they return with
# the closed-form expression parts that built it. Tag-aware consumers
# (st_length / st_area / st_perimeter / st_x / st_y / st_distance and the
# binary predicates) then emit a pure col-expr instead of referencing the
# pandas-UDF column — Catalyst never schedules the Python stage because the
# WKB expression is simply not in the plan. This is the Spark analog of the
# reference's function-local native fast paths (e.g. the POINT_2D overloads,
# st_distance.cpp:48): same answer, no serialization.
#
# The annotation lives in the Column instance's __dict__ (pyspark Column
# defines __getattr__ for field access, so plain attribute reads would
# resolve to getField — instance-dict access avoids that). Tags survive only
# direct Column composition (fn(ctor(...))); naming the intermediate via
# withColumn/select drops them, which degrades to the UDF path, never to a
# wrong answer.

def _tag(col: Column, kind: str, *parts) -> Column:
    col.__dict__["_dss_ctor"] = (kind,) + parts
    return col


def _ctortag(c) -> Optional[tuple]:
    if isinstance(c, Column):
        return c.__dict__.get("_dss_ctor")
    return None


def _geoms(s: pd.Series) -> List[Optional[Geometry]]:
    return [None if b is None else from_wkb(b) for b in s]


# ============================================================ vectorized WKB point codec

_PT_HDR = np.frombuffer(b"\x01\x01\x00\x00\x00", dtype=np.uint8)


def _points_to_wkb(x: np.ndarray, y: np.ndarray) -> List[Optional[bytes]]:
    """Vectorized little-endian WKB POINT builder (no per-row struct packs)."""
    n = len(x)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, :5] = _PT_HDR
    buf[:, 5:13] = np.ascontiguousarray(x, dtype="<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = np.ascontiguousarray(y, dtype="<f8").view(np.uint8).reshape(n, 8)
    return [r.tobytes() for r in buf]


@pandas_udf(T.BinaryType())
def _st_point_udf(x: pd.Series, y: pd.Series) -> pd.Series:
    xa = x.to_numpy(dtype=np.float64, na_value=np.nan)
    ya = y.to_numpy(dtype=np.float64, na_value=np.nan)
    out = _points_to_wkb(xa, ya)
    mask = x.isna() | y.isna()
    if mask.any():
        out = [None if m else v for m, v in zip(mask.to_numpy(), out)]
    return pd.Series(out, dtype=object)


def st_point(x: ColumnOrName, y: ColumnOrName) -> Column:
    """GEOMETRY point from x/y doubles (reference scalar/st_point.cpp)."""
    xc, yc = _col(x).cast("double"), _col(y).cast("double")
    return _tag(_st_point_udf(xc, yc), "point", xc, yc)


def st_point2d(x: ColumnOrName, y: ColumnOrName) -> Column:
    """POINT_2D struct — the columnar fast-path type (types.cpp:11-15)."""
    return F.struct(_col(x).cast("double").alias("x"), _col(y).cast("double").alias("y"))


def st_makeline2d(*points: ColumnOrName) -> Column:
    """LINESTRING_2D (array<struct<x,y>>, types.cpp:51-55) from POINT_2D
    structs — pure col-expr, whole-stage-codegen path."""
    return F.array(*[_col(p) for p in points])


def st_startpoint2d(line: ColumnOrName) -> Column:
    """LINESTRING_2D → POINT_2D first vertex (scalar/st_startpoint.cpp)."""
    return F.element_at(_col(line), 1)


def st_endpoint2d(line: ColumnOrName) -> Column:
    """LINESTRING_2D → POINT_2D last vertex (scalar/st_endpoint.cpp)."""
    return F.element_at(_col(line), -1)


def st_pointn2d(line: ColumnOrName, n: int) -> Column:
    """LINESTRING_2D → nth vertex, 1-based, negative from end
    (scalar/st_pointn.cpp)."""
    return F.element_at(_col(line), n)


def st_x2d(pt: ColumnOrName) -> Column:
    return _col(pt).getField("x")


def st_y2d(pt: ColumnOrName) -> Column:
    return _col(pt).getField("y")


st_makepoint = st_point


# ============================================================ generic UDF factories

def _unary_geom_to(ret_type, fn, name=None):
    @pandas_udf(ret_type)
    def f(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            if b is None:
                out.append(None)
            else:
                out.append(fn(from_wkb(b)))
        return pd.Series(out, dtype=object if ret_type == T.BinaryType() else None)

    return f


def _unary_geom_to_geom(fn):
    @pandas_udf(T.BinaryType())
    def f(s: pd.Series) -> pd.Series:
        # memoize per batch: repeated WKB inputs (constructed geometries over
        # low-cardinality columns) pay for the kernel once
        cache: dict = {}
        out = []
        for b in s:
            if b is None:
                out.append(None)
                continue
            key = bytes(b)
            if key in cache:
                out.append(cache[key])
                continue
            g = fn(from_wkb(b))
            v = None if g is None else to_wkb(g)
            cache[key] = v
            out.append(v)
        return pd.Series(out, dtype=object)

    return f


def _binary_geom_pred(fn, pred_name: Optional[str] = None):
    """Boolean geometry predicate UDF. When both batches are uniform
    rectangles/points, the closed-form vectorized path in ..geom.vec runs
    instead of the per-row kernels (the reference's native BOX_2D/PiP fast
    paths, core/.../st_intersects.cpp:14-30, st_contains.cpp:16-110)."""

    @pandas_udf(T.BooleanType())
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        if pred_name is not None:
            ma, mb = V.fixed_matrix(a), V.fixed_matrix(b)
            if ma is not None and mb is not None:
                pa, pb = V.point_bounds(ma), V.point_bounds(mb)
                ra = pa if pa is not None else V.rect_bounds(ma)
                rb = pb if pb is not None else V.rect_bounds(mb)
                if ra is not None and rb is not None:
                    res = V.rect_predicate(
                        pred_name, ra, rb, pa is not None, pb is not None
                    )
                    if res is not None:
                        return pd.Series(res)
                la, lb = V.decode_linestrings(ma), V.decode_linestrings(mb)
                if (
                    la is not None and lb is not None
                    and la.shape[1] == 2 and lb.shape[1] == 2
                ):
                    res = V.seg_predicate(pred_name, la, lb)
                    if res is not None:
                        return pd.Series(res)
        out = []
        for ba, bb in zip(a, b):
            if ba is None or bb is None:
                out.append(None)
            else:
                out.append(bool(fn(from_wkb(ba), from_wkb(bb))))
        return pd.Series(out)

    return f


def _binary_geom_to_geom(fn):
    @pandas_udf(T.BinaryType())
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        cache: dict = {}
        out = []
        for ba, bb in zip(a, b):
            if ba is None or bb is None:
                out.append(None)
                continue
            key = (bytes(ba), bytes(bb))
            if key in cache:
                out.append(cache[key])
                continue
            g = fn(from_wkb(ba), from_wkb(bb))
            v = None if g is None else to_wkb(g)
            cache[key] = v
            out.append(v)
        return pd.Series(out, dtype=object)

    return f


def _measure_udf(generic_fn, fast_fn):
    """Double-valued unary fn with a uniform-batch vectorized fast path
    (the Spark analog of the reference's native columnar-type overloads,
    e.g. st_area.cpp's POLYGON_2D path)."""

    @pandas_udf(T.DoubleType())
    def f(s: pd.Series) -> pd.Series:
        mat = V.fixed_matrix(s)
        if mat is not None:
            out = fast_fn(mat)
            if out is not None:
                return pd.Series(out)
        return pd.Series(
            [None if b is None else generic_fn(from_wkb(b)) for b in s]
        )

    return f


# ============================================================ constructors / text I/O

@pandas_udf(T.BinaryType())
def _st_geomfromtext_udf(s: pd.Series) -> pd.Series:
    # memoized per batch: generated WKT over low-cardinality columns is the
    # common case and the parser is the cost
    cache: dict = {}
    out = []
    for w in s:
        if w is None:
            out.append(None)
            continue
        v = cache.get(w)
        if v is None and w not in cache:
            try:
                v = to_wkb(from_wkt(w))
            except ValueError:
                v = None
            cache[w] = v
        out.append(v)
    return pd.Series(out, dtype=object)


def st_geomfromtext(wkt: ColumnOrName) -> Column:
    """WKT → GEOMETRY. Invalid WKT → NULL (reference's ignore_invalid mode;
    strict errors are a driver-side concern in Spark)."""
    return _st_geomfromtext_udf(_col(wkt))


@pandas_udf(T.StringType())
def _st_astext_udf(s: pd.Series) -> pd.Series:
    return pd.Series([None if b is None else to_wkt(from_wkb(b)) for b in s])


def st_astext(geom: ColumnOrName) -> Column:
    return _st_astext_udf(_col(geom))


def st_geomfromwkb(wkb_col: ColumnOrName) -> Column:
    """WKB_BLOB → GEOMETRY: identity in this engine (WKB is native);
    validation happens lazily at first parse."""
    return _col(wkb_col)


def st_aswkb(geom: ColumnOrName) -> Column:
    return _col(geom)


def st_geomfromhexwkb(hex_col: ColumnOrName) -> Column:
    return F.unhex(_col(hex_col))


# EWKB flag bits (Z/M/SRID) are handled inside the WKB codec, so the
# HEXEWKB entry point is the same unhex (st_geomfromhexwkb.cpp registers
# both names over one implementation too)
st_geomfromhexewkb = st_geomfromhexwkb


def st_ashexwkb(geom: ColumnOrName) -> Column:
    return F.upper(F.hex(_col(geom)))


@pandas_udf(T.BinaryType())
def _st_geomfromgeojson_udf(s: pd.Series) -> pd.Series:
    import json

    from ..geom.geojson import geojson_to_geometry

    out = []
    for j in s:
        if j is None:
            out.append(None)
        else:
            try:
                out.append(to_wkb(geojson_to_geometry(json.loads(j))))
            except (ValueError, KeyError):
                out.append(None)
    return pd.Series(out, dtype=object)


def st_geomfromgeojson(json_col: ColumnOrName) -> Column:
    return _st_geomfromgeojson_udf(_col(json_col))


@pandas_udf(T.StringType())
def _st_asgeojson_udf(s: pd.Series) -> pd.Series:
    import json

    from ..geom.geojson import geometry_to_geojson

    return pd.Series(
        [None if b is None else json.dumps(geometry_to_geojson(from_wkb(b)),
                                           separators=(",", ":")) for b in s]
    )


def st_asgeojson(geom: ColumnOrName) -> Column:
    return _st_asgeojson_udf(_col(geom))


@pandas_udf(T.BinaryType())
def _st_makeenvelope_udf(a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series) -> pd.Series:
    mask = a.isna() | b.isna() | c.isna() | d.isna()
    x0 = a.to_numpy(dtype=np.float64, na_value=np.nan)
    y0 = b.to_numpy(dtype=np.float64, na_value=np.nan)
    x1 = c.to_numpy(dtype=np.float64, na_value=np.nan)
    y1 = d.to_numpy(dtype=np.float64, na_value=np.nan)
    n = len(x0)
    # ring order matches Geometry.box_polygon and the reference's
    # Polygon::CreateFromBox (geometry.hpp:795-805)
    coords = np.empty((n, 5, 2))
    coords[:, 0, 0] = x0; coords[:, 0, 1] = y0
    coords[:, 1, 0] = x0; coords[:, 1, 1] = y1
    coords[:, 2, 0] = x1; coords[:, 2, 1] = y1
    coords[:, 3, 0] = x1; coords[:, 3, 1] = y0
    coords[:, 4, 0] = x0; coords[:, 4, 1] = y0
    out = V.encode_polygons_1ring(coords)
    if mask.any():
        out = [None if m else v for m, v in zip(mask.to_numpy(), out)]
    return pd.Series(out, dtype=object)


def st_makeenvelope(xmin, ymin, xmax, ymax) -> Column:
    """4 doubles → GEOMETRY rectangle (scalar/st_makeenvelope.cpp) —
    fully vectorized WKB build, no per-row objects."""
    cols = [
        _col(v).cast("double") if isinstance(v, (Column, str)) else F.lit(float(v))
        for v in (xmin, ymin, xmax, ymax)
    ]
    return _tag(_st_makeenvelope_udf(*cols), "envelope", *cols)


@pandas_udf(T.BinaryType())
def _st_makeline_list_udf(s: pd.Series) -> pd.Series:
    out = []
    for arr in s:
        if arr is None:
            out.append(None)
            continue
        pts = [from_wkb(b) for b in arr if b is not None]
        pts = [p for p in pts if p.type_id == Wkb.POINT and p.coords is not None]
        # mixed Z/M promotes with zero fill (st_makeline.test:58-67)
        from ..geom.core import promote_dims

        hz = any(p.has_z for p in pts)
        hm = any(p.has_m for p in pts)
        coords = [promote_dims(p, hz, hm).coords for p in pts]
        if len(coords) == 0:
            # zero usable points → LINESTRING EMPTY; exactly one → invalid
            # (reference: "requires zero or two or more POINT geometries",
            # st_makeline.test:20-46; errors surface as NULL in our engine)
            out.append(to_wkb(Geometry.empty(Wkb.LINESTRING)))
        elif len(coords) == 1:
            out.append(None)
        else:
            out.append(to_wkb(Geometry(Wkb.LINESTRING,
                                       coords=np.asarray(coords),
                                       has_z=hz, has_m=hm)))
    return pd.Series(out, dtype=object)


@pandas_udf(T.BinaryType())
def _st_makeline2_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    ma, mb = V.fixed_matrix(a), V.fixed_matrix(b)
    if ma is not None and mb is not None:
        pa, pb = V.decode_points(ma), V.decode_points(mb)
        if pa is not None and pb is not None:
            coords = np.empty((len(a), 2, 2))
            coords[:, 0, 0], coords[:, 0, 1] = pa
            coords[:, 1, 0], coords[:, 1, 1] = pb
            return pd.Series(V.encode_linestrings(coords), dtype=object)
    out = []
    for ba, bb in zip(a, b):
        if ba is None or bb is None:
            out.append(None)
            continue
        ga, gb = from_wkb(ba), from_wkb(bb)
        if ga.type_id != Wkb.POINT or gb.type_id != Wkb.POINT or ga.coords is None or gb.coords is None:
            out.append(None)
        else:
            # mixed Z/M promotes with zero fill (st_makeline.test:58-67)
            from ..geom.core import promote_dims

            hz = ga.has_z or gb.has_z
            hm = ga.has_m or gb.has_m
            pa2 = promote_dims(ga, hz, hm)
            pb2 = promote_dims(gb, hz, hm)
            ln = Geometry(Wkb.LINESTRING,
                          coords=np.asarray([pa2.coords, pb2.coords]),
                          has_z=hz, has_m=hm)
            out.append(to_wkb(ln))
    return pd.Series(out, dtype=object)


def st_makeline(a: ColumnOrName, b: Optional[ColumnOrName] = None) -> Column:
    """(list<GEOMETRY>) or (GEOMETRY, GEOMETRY) → LINESTRING
    (scalar/st_makeline.cpp:120-130). The two-point form takes the
    vectorized uniform-batch path."""
    if b is None:
        return _st_makeline_list_udf(_col(a))
    out = _st_makeline2_udf(_col(a), _col(b))
    ta, tb = _ctortag(a), _ctortag(b)
    if ta is not None and tb is not None and ta[0] == tb[0] == "point":
        out = _tag(out, "line2", ta[1], ta[2], tb[1], tb[2])
    return out


@pandas_udf(T.BinaryType())
def _st_makepolygon_udf(shell: pd.Series) -> pd.Series:
    out = []
    for b in shell:
        if b is None:
            out.append(None)
            continue
        g = from_wkb(b)
        if g.type_id != Wkb.LINESTRING or len(g.coords) < 4 or not np.array_equal(
            g.coords[0, :2], g.coords[-1, :2]
        ):
            out.append(None)
        else:
            out.append(to_wkb(Geometry(Wkb.POLYGON, rings=[g.coords.copy()],
                                       has_z=g.has_z, has_m=g.has_m)))
    return pd.Series(out, dtype=object)


@pandas_udf(T.BinaryType())
def _st_makepolygon_holes_udf(shell: pd.Series, holes: pd.Series) -> pd.Series:
    out = []
    for b, hs in zip(shell, holes):
        if b is None or hs is None:
            out.append(None)
            continue
        g = from_wkb(b)
        if g.type_id != Wkb.LINESTRING or len(g.coords) < 4 or not np.array_equal(
            g.coords[0, :2], g.coords[-1, :2]
        ):
            out.append(None)
            continue
        rings = [g.coords.copy()]
        ok = True
        for hb in hs:
            if hb is None:  # NULL rings are ignored (st_makepolygon.test:49)
                continue
            h = from_wkb(hb)
            if h.type_id != Wkb.LINESTRING or len(h.coords) < 4 or not np.array_equal(
                h.coords[0, :2], h.coords[-1, :2]
            ):
                ok = False
                break
            rings.append(h.coords.copy())
        out.append(to_wkb(Geometry(Wkb.POLYGON, rings=rings,
                                   has_z=g.has_z, has_m=g.has_m)) if ok else None)
    return pd.Series(out, dtype=object)


def st_makepolygon(shell: ColumnOrName, holes: Optional[ColumnOrName] = None) -> Column:
    """(shell LINESTRING[, holes list<LINESTRING>]) → POLYGON
    (scalar/st_makepolygon.cpp; NULL hole members are ignored)."""
    if holes is None:
        return _st_makepolygon_udf(_col(shell))
    return _st_makepolygon_holes_udf(_col(shell), _col(holes))


@pandas_udf(T.BinaryType())
def _st_collect_udf(s: pd.Series) -> pd.Series:
    from ..geom.core import collect as collect_k

    out = []
    for arr in s:
        if arr is None:
            out.append(None)
        else:
            out.append(to_wkb(collect_k([from_wkb(b) for b in arr if b is not None])))
    return pd.Series(out, dtype=object)


def st_collect(geom_array: ColumnOrName) -> Column:
    """list<GEOMETRY> → narrowest MULTI*/GEOMETRYCOLLECTION
    (st_collect.cpp:132-140)."""
    return _st_collect_udf(_col(geom_array))


# ============================================================ accessors

_st_x_udf = _measure_udf(
    lambda g: float(g.coords[0]) if g.type_id == 1 and g.coords is not None else None,
    lambda mat: (lambda p: p[0] if p is not None else None)(V.decode_points(mat)),
)
_st_y_udf = _measure_udf(
    lambda g: float(g.coords[1]) if g.type_id == 1 and g.coords is not None else None,
    lambda mat: (lambda p: p[1] if p is not None else None)(V.decode_points(mat)),
)
_st_z_udf = _unary_geom_to(T.DoubleType(), lambda g: float(g.coords[2]) if g.type_id == 1 and g.has_z and g.coords is not None else None)
_st_m_udf = _unary_geom_to(T.DoubleType(), lambda g: float(g.coords[2 + int(g.has_z)]) if g.type_id == 1 and g.has_m and g.coords is not None else None)


def st_x(geom: ColumnOrName) -> Column:
    t = _ctortag(geom)
    if t is not None and t[0] == "point":
        return t[1] + t[2] * F.lit(0.0)  # null-propagate both ordinates
    return _st_x_udf(_col(geom))


def st_y(geom: ColumnOrName) -> Column:
    t = _ctortag(geom)
    if t is not None and t[0] == "point":
        return t[2] + t[1] * F.lit(0.0)
    return _st_y_udf(_col(geom))


def st_z(geom: ColumnOrName) -> Column:
    return _st_z_udf(_col(geom))


def st_m(geom: ColumnOrName) -> Column:
    return _st_m_udf(_col(geom))


@pandas_udf(BOX2D_TYPE)
def _st_extent_udf(s: pd.Series) -> pd.DataFrame:
    rows = []
    for b in s:
        if b is None:
            rows.append((None, None, None, None))
        else:
            bd = from_wkb(b).bounds()
            rows.append(bd if bd is not None else (None, None, None, None))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def st_extent(geom: ColumnOrName) -> Column:
    """GEOMETRY → BOX_2D struct. The materialized replacement for the
    reference's cached header bbox (geometry_type.hpp:100-146)."""
    return _st_extent_udf(_col(geom))


st_bbox = st_extent


def st_extent_approx(geom: ColumnOrName) -> Column:
    """GEOMETRY → BOX_2DF (float32 struct) with conservative rounding —
    min coords rounded down, max rounded up (st_extent.cpp:235
    ST_Extent_Approx reads the float bbox cached in the blob header; here
    the exact bounds are computed then widened to float)."""
    b = _st_extent_udf(_col(geom))

    def down(c):  # widen toward -inf: nextafter on the float32 grid
        f = c.cast("float")
        return F.when(f.cast("double") > c, _f32_nextafter(f, -1)).otherwise(f)

    def up(c):
        f = c.cast("float")
        return F.when(f.cast("double") < c, _f32_nextafter(f, 1)).otherwise(f)

    return F.struct(
        down(b["xmin"]).alias("xmin"), down(b["ymin"]).alias("ymin"),
        up(b["xmax"]).alias("xmax"), up(b["ymax"]).alias("ymax"),
    )


def _f32_nextafter(f: Column, direction: int) -> Column:
    """One float32 ulp toward ±inf. Spark has no float bit intrinsics in
    the public API, so nudge by a relative 2^-23 (one ulp at the value's
    magnitude) — equivalent for conservative-bbox purposes."""
    eps = F.lit(float(2.0 ** -23))
    mag = F.greatest(F.abs(f), F.lit(float(2.0 ** -126)))
    return (f.cast("double") + direction * mag.cast("double") * eps).cast("float")


def st_xmin(box_or_geom: ColumnOrName, is_box: bool = False) -> Column:
    c = _col(box_or_geom)
    return c["xmin"] if is_box else _st_extent_udf(c)["xmin"]


def st_xmax(box_or_geom: ColumnOrName, is_box: bool = False) -> Column:
    c = _col(box_or_geom)
    return c["xmax"] if is_box else _st_extent_udf(c)["xmax"]


def st_ymin(box_or_geom: ColumnOrName, is_box: bool = False) -> Column:
    c = _col(box_or_geom)
    return c["ymin"] if is_box else _st_extent_udf(c)["ymin"]


def st_ymax(box_or_geom: ColumnOrName, is_box: bool = False) -> Column:
    c = _col(box_or_geom)
    return c["ymax"] if is_box else _st_extent_udf(c)["ymax"]


def _pointn_k(g: Geometry, n: int):
    if g.type_id != Wkb.LINESTRING:
        return None
    ln = len(g.coords)
    idx = n - 1 if n > 0 else ln + n
    if idx < 0 or idx >= ln:
        return None
    p = Geometry(Wkb.POINT, coords=g.coords[idx].copy(), has_z=g.has_z, has_m=g.has_m)
    return to_wkb(p)


@pandas_udf(T.BinaryType())
def _st_pointn_udf(s: pd.Series, n: pd.Series) -> pd.Series:
    # uniform linestring batch + constant n → vectorized vertex gather
    nvals = n.to_numpy()
    if len(nvals) and (nvals == nvals[0]).all() and nvals[0] is not None:
        mat = V.fixed_matrix(s)
        if mat is not None:
            ls = V.decode_linestrings(mat)
            if ls is not None:
                k = int(nvals[0])
                npts = ls.shape[1]
                idx = k - 1 if k > 0 else npts + k
                if 0 <= idx < npts:
                    return pd.Series(
                        V.encode_points(ls[:, idx, 0], ls[:, idx, 1]), dtype=object
                    )
                return pd.Series([None] * len(s), dtype=object)
    out = []
    for b, k in zip(s, n):
        if b is None or k is None:
            out.append(None)
        else:
            out.append(_pointn_k(from_wkb(b), int(k)))
    return pd.Series(out, dtype=object)


def st_pointn(geom: ColumnOrName, n) -> Column:
    nn = _col(n) if isinstance(n, (Column, str)) else F.lit(int(n))
    return _st_pointn_udf(_col(geom), nn.cast("int"))


def st_startpoint(geom: ColumnOrName) -> Column:
    return st_pointn(geom, 1)


def st_endpoint(geom: ColumnOrName) -> Column:
    return st_pointn(geom, -1)


_st_npoints_udf = _unary_geom_to(T.IntegerType(), lambda g: g.num_points())
_st_ngeometries_udf = _unary_geom_to(T.IntegerType(), lambda g: g.num_geometries())
_st_ninteriorrings_udf = _unary_geom_to(
    T.IntegerType(),
    lambda g: (len(g.rings) - 1 if g.rings else None) if g.type_id == Wkb.POLYGON else None,
)
_st_geometrytype_udf = _unary_geom_to(T.StringType(), lambda g: g.type_name)
_st_dimension_udf = _unary_geom_to(T.IntegerType(), lambda g: g.topo_dimension())
_st_isempty_udf = _unary_geom_to(T.BooleanType(), lambda g: g.is_empty())
_st_isclosed_udf = _unary_geom_to(T.BooleanType(), K.is_closed)
_st_haz_udf = _unary_geom_to(T.BooleanType(), lambda g: g.has_z)
_st_ham_udf = _unary_geom_to(T.BooleanType(), lambda g: g.has_m)
_st_zmflag_udf = _unary_geom_to(
    T.IntegerType(), lambda g: (2 if g.has_z else 0) + (1 if g.has_m else 0) if (g.has_z or g.has_m) else 0
)


def st_npoints(geom: ColumnOrName) -> Column:
    return _st_npoints_udf(_col(geom))


st_numpoints = st_npoints


def st_ngeometries(geom: ColumnOrName) -> Column:
    return _st_ngeometries_udf(_col(geom))


st_numgeometries = st_ngeometries


def st_ninteriorrings(geom: ColumnOrName) -> Column:
    return _st_ninteriorrings_udf(_col(geom))


st_numinteriorrings = st_ninteriorrings


def st_geometrytype(geom: ColumnOrName) -> Column:
    return _st_geometrytype_udf(_col(geom))


def st_dimension(geom: ColumnOrName) -> Column:
    return _st_dimension_udf(_col(geom))


def st_isempty(geom: ColumnOrName) -> Column:
    return _st_isempty_udf(_col(geom))


def st_isclosed(geom: ColumnOrName) -> Column:
    return _st_isclosed_udf(_col(geom))


def st_hasz(geom: ColumnOrName) -> Column:
    return _st_haz_udf(_col(geom))


def st_hasm(geom: ColumnOrName) -> Column:
    return _st_ham_udf(_col(geom))


def st_zmflag(geom: ColumnOrName) -> Column:
    return _st_zmflag_udf(_col(geom))


def _exteriorring_k(g: Geometry):
    if g.type_id != Wkb.POLYGON or not g.rings:
        return None
    return Geometry(Wkb.LINESTRING, coords=g.rings[0].copy(), has_z=g.has_z, has_m=g.has_m)


_st_exteriorring_udf = _unary_geom_to_geom(_exteriorring_k)


def st_exteriorring(geom: ColumnOrName) -> Column:
    return _st_exteriorring_udf(_col(geom))


def _points_k(g: Geometry) -> Geometry:
    pts = [
        Geometry(Wkb.POINT, coords=row.copy(), has_z=g.has_z, has_m=g.has_m)
        for arr in g.vertex_arrays()
        for row in arr
    ]
    out = Geometry(Wkb.MULTIPOINT, parts=pts, has_z=g.has_z, has_m=g.has_m)
    return out


_st_points_udf = _unary_geom_to_geom(_points_k)


def st_points(geom: ColumnOrName) -> Column:
    """All vertices as MULTIPOINT (scalar/st_points.cpp)."""
    return _st_points_udf(_col(geom))


DUMP_TYPE = T.ArrayType(
    T.StructType(
        [T.StructField("geom", T.BinaryType()), T.StructField("path", T.ArrayType(T.IntegerType()))]
    )
)


@pandas_udf(DUMP_TYPE)
def _st_dump_udf(s: pd.Series) -> pd.Series:
    def rec(g: Geometry, path):
        if g.parts is not None:
            out = []
            for i, p in enumerate(g.parts):
                out.extend(rec(p, path + [i + 1]))
            return out
        return [(to_wkb(g), path)]

    out = []
    for b in s:
        if b is None:
            out.append(None)
        else:
            out.append(rec(from_wkb(b), []))
    return pd.Series(out, dtype=object)


def st_dump(geom: ColumnOrName) -> Column:
    """Recursive decomposition → array<struct<geom,path>> (st_dump.cpp:134-141).
    Usually followed by ``F.explode``."""
    return _st_dump_udf(_col(geom))


# ============================================================ measures

def _fast_area(mat):
    if V.decode_points(mat) is not None or V.decode_linestrings(mat) is not None:
        return np.zeros(len(mat))
    ring = V.decode_polygons_1ring(mat)
    if ring is not None:
        return V.shoelace_area(ring)
    return None


def _fast_length(mat):
    ls = V.decode_linestrings(mat)
    if ls is not None:
        return V.length_of_lines(ls)
    if V.decode_points(mat) is not None or V.decode_polygons_1ring(mat) is not None:
        return np.zeros(len(mat))
    return None


def _fast_perimeter(mat):
    ring = V.decode_polygons_1ring(mat)
    if ring is not None:
        return V.length_of_lines(ring)
    if V.decode_points(mat) is not None or V.decode_linestrings(mat) is not None:
        return np.zeros(len(mat))
    return None


_st_area_udf = _measure_udf(K.area, _fast_area)
_st_length_udf = _measure_udf(K.length, _fast_length)
_st_perimeter_udf = _measure_udf(K.perimeter, _fast_perimeter)
@pandas_udf(T.BinaryType())
def _st_centroid_udf(s: pd.Series) -> pd.Series:
    # MULTIPOINT fast path: centroid = mean of points, decoded per blob in
    # one frombuffer (the st_collect_agg-over-points shape — groups of many
    # thousands of points otherwise cost a Geometry object each)
    out = []
    for b in s:
        if b is None:
            out.append(None)
            continue
        xy = V.multipoint_xy(bytes(b))
        if xy is not None:
            out.append(to_wkb(Geometry.point(float(xy[0].mean()), float(xy[1].mean()))))
        else:
            g = K.centroid(from_wkb(b))
            out.append(None if g is None else to_wkb(g))
    return pd.Series(out, dtype=object)


def st_area(geom: ColumnOrName) -> Column:
    t = _ctortag(geom)
    if t is not None and t[0] == "envelope":
        _, x0, y0, x1, y1 = t
        return F.abs((x1 - x0) * (y1 - y0))
    if t is not None and t[0] == "ngon":
        _, cx, cy, d, nv = t
        # regular nv-gon of circumradius d: area = nv*d²*sin(2π/nv)/2;
        # cx*0 term keeps null propagation identical to the UDF path
        return cx * F.lit(0.0) + cy * F.lit(0.0) + F.lit(
            0.5 * nv * d * d * math.sin(2.0 * math.pi / nv)
        )
    return _st_area_udf(_col(geom))


def st_length(geom: ColumnOrName) -> Column:
    t = _ctortag(geom)
    if t is not None and t[0] == "line2":
        _, ax, ay, bx, by = t
        return F.sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
    return _st_length_udf(_col(geom))


def st_perimeter(geom: ColumnOrName) -> Column:
    t = _ctortag(geom)
    if t is not None and t[0] == "envelope":
        _, x0, y0, x1, y1 = t
        return F.lit(2.0) * (F.abs(x1 - x0) + F.abs(y1 - y0))
    if t is not None and t[0] == "ngon":
        _, cx, cy, d, nv = t
        return cx * F.lit(0.0) + cy * F.lit(0.0) + F.lit(
            2.0 * nv * d * math.sin(math.pi / nv)
        )
    return _st_perimeter_udf(_col(geom))


def st_centroid(geom: ColumnOrName) -> Column:
    return _st_centroid_udf(_col(geom))


@pandas_udf(T.DoubleType())
def _st_distance_geom_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    ma, mb = V.fixed_matrix(a), V.fixed_matrix(b)
    if ma is not None and mb is not None:
        pa, pb = V.decode_points(ma), V.decode_points(mb)
        if pa is not None and pb is not None:
            return pd.Series(np.hypot(pa[0] - pb[0], pa[1] - pb[1]))
    out = []
    for ba, bb in zip(a, b):
        if ba is None or bb is None:
            out.append(None)
        else:
            out.append(K.distance(from_wkb(ba), from_wkb(bb)))
    return pd.Series(out)


def _pt_seg_dist(px, py, ax, ay, bx, by) -> Column:
    """Point-to-segment distance, clamped-projection closed form."""
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    t = F.when(len2 > 0, F.greatest(F.lit(0.0), F.least(F.lit(1.0),
        ((px - ax) * dx + (py - ay) * dy) / len2))).otherwise(F.lit(0.0))
    qx, qy = ax + t * dx, ay + t * dy
    return F.sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy))


def _fuse_distance(a, b) -> Optional[Column]:
    ta, tb = _ctortag(a), _ctortag(b)
    if ta is not None and tb is not None:
        if ta[0] == tb[0] == "point":
            return F.sqrt((ta[1] - tb[1]) * (ta[1] - tb[1])
                          + (ta[2] - tb[2]) * (ta[2] - tb[2]))
        if ta[0] == "point" and tb[0] == "line2":
            return _pt_seg_dist(ta[1], ta[2], tb[1], tb[2], tb[3], tb[4])
        if ta[0] == "line2" and tb[0] == "point":
            return _pt_seg_dist(tb[1], tb[2], ta[1], ta[2], ta[3], ta[4])
    return None


def st_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    fused = _fuse_distance(a, b)
    if fused is not None:
        return fused
    return _st_distance_geom_udf(_col(a), _col(b))


def st_distance_point2d(ax: ColumnOrName, ay: ColumnOrName, bx: ColumnOrName, by: ColumnOrName) -> Column:
    """Point-point fast path — pure col-expr (reference's native overload,
    st_distance.cpp:48)."""
    dx = _col(ax) - _col(bx)
    dy = _col(ay) - _col(by)
    return F.sqrt(dx * dx + dy * dy)


def st_distance_sphere(x1: ColumnOrName, y1: ColumnOrName, x2: ColumnOrName, y2: ColumnOrName) -> Column:
    """Haversine — pure col-expr, no UDF. Argument order matches the
    reference exactly: X is LATITUDE, Y is longitude
    (st_distance_sphere.cpp:50-51 passes the x ordinate as lat1)."""
    rx1, ry1 = F.radians(_col(x1)), F.radians(_col(y1))
    rx2, ry2 = F.radians(_col(x2)), F.radians(_col(y2))
    dlat = rx2 - rx1
    dlon = ry2 - ry1
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(rx1) * F.cos(rx2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0 * K.EARTH_RADIUS_M) * F.asin(F.least(F.lit(1.0), F.sqrt(h)))


st_haversine = st_distance_sphere


def st_quadkey_xy(lon: ColumnOrName, lat: ColumnOrName, level) -> Column:
    """Bing-maps quadkey string — pure col-expr (st_quadkey.cpp:145).
    Clamps lat to ±85.05112878 / lon to ±180 first (st_quadkey.cpp:19-20),
    which also keeps the Mercator log() term finite under ANSI mode."""
    lvl = int(level)
    lon_c = F.greatest(F.lit(-180.0), F.least(F.lit(180.0), _col(lon)))
    lat_c = F.greatest(F.lit(-85.05112878), F.least(F.lit(85.05112878), _col(lat)))
    sin_lat = F.sin(F.radians(lat_c))
    xf = (lon_c + F.lit(180.0)) / F.lit(360.0)
    yf = F.lit(0.5) - F.log((F.lit(1.0) + sin_lat) / (F.lit(1.0) - sin_lat)) / F.lit(
        4.0 * math.pi
    )
    n = F.lit(float(1 << lvl))
    tx = F.floor(xf * n).cast("long")
    ty = F.floor(yf * n).cast("long")
    tx = F.greatest(F.lit(0), F.least(tx, F.lit((1 << lvl) - 1)))
    ty = F.greatest(F.lit(0), F.least(ty, F.lit((1 << lvl) - 1)))
    digits = []
    for i in range(lvl, 0, -1):
        mask = 1 << (i - 1)
        d = (
            F.when((tx.bitwiseAND(F.lit(mask)) != 0) & (ty.bitwiseAND(F.lit(mask)) != 0), "3")
            .when(ty.bitwiseAND(F.lit(mask)) != 0, "2")
            .when(tx.bitwiseAND(F.lit(mask)) != 0, "1")
            .otherwise("0")
        )
        digits.append(d)
    return F.concat(*digits) if digits else F.lit("")


# ---- Hilbert curve (col-expr, 16 bits/axis → 32-bit key) --------------------

_HILBERT_BITS = 16


def _hilbert_xy_to_d_np(order: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized classic xy2d Hilbert walk over int64 arrays — 16 NumPy
    passes per batch. (A Catalyst higher-order ``aggregate`` fold computes
    the same thing JVM-side but runs interpreted per row — measured ~10×
    slower than this Arrow-batched form; an unrolled ``F.when`` chain is
    worse still, duplicating subtrees exponentially. Reference
    st_hilbert.cpp computes the same curve natively.)"""
    x = x.astype(np.int64, copy=True)
    y = y.astype(np.int64, copy=True)
    d = np.zeros_like(x)
    s = 1 << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        swap = ry == 0
        refl = swap & (rx == 1)
        x2 = np.where(refl, s - 1 - x, x)
        y2 = np.where(refl, s - 1 - y, y)
        x = np.where(swap, y2, x2)
        y = np.where(swap, x2, y2)
        s >>= 1
    return d


def st_hilbert_xy(
    x: ColumnOrName,
    y: ColumnOrName,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    order: int = _HILBERT_BITS,
) -> Column:
    """Hilbert index of (x,y) within a bounding box (st_hilbert.cpp:240-249),
    Arrow-batched NumPy walk. The cornerstone of ``st_cluster`` layout
    (SURVEY §4.2)."""
    x0, y0 = float(xmin), float(ymin)
    rx, ry = float(xmax - xmin), float(ymax - ymin)
    hi = (1 << order) - 1

    @pandas_udf(T.LongType())
    def f(xs: pd.Series, ys: pd.Series) -> pd.Series:
        xa = xs.to_numpy(dtype=np.float64, na_value=np.nan)
        ya = ys.to_numpy(dtype=np.float64, na_value=np.nan)
        xi = np.clip(np.floor((xa - x0) / rx * hi), 0, hi)
        yi = np.clip(np.floor((ya - y0) / ry * hi), 0, hi)
        xi = np.nan_to_num(xi, nan=0.0).astype(np.int64)
        yi = np.nan_to_num(yi, nan=0.0).astype(np.int64)
        d = _hilbert_xy_to_d_np(order, xi, yi)
        bad = np.isnan(xa) | np.isnan(ya)
        out = pd.Series(d)
        if bad.any():
            out = out.astype("Int64")
            out[bad] = pd.NA
        return out

    return f(_col(x).cast("double"), _col(y).cast("double"))


def hilbert_xy_py(order: int, x: int, y: int) -> int:
    """Driver-side reference implementation (for tests and literals)."""
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


# ============================================================ predicates

_st_intersects_udf = _binary_geom_pred(K.intersects, "intersects")
_st_disjoint_udf = _binary_geom_pred(K.disjoint, "disjoint")
_st_contains_udf = _binary_geom_pred(K.contains, "contains")
_st_containsproperly_udf = _binary_geom_pred(K.contains_properly, "containsproperly")
_st_within_udf = _binary_geom_pred(K.within, "within")
_st_covers_udf = _binary_geom_pred(K.covers, "covers")
_st_coveredby_udf = _binary_geom_pred(K.covered_by, "coveredby")
_st_crosses_udf = _binary_geom_pred(K.crosses, "crosses")
_st_touches_udf = _binary_geom_pred(K.touches, "touches")
_st_overlaps_udf = _binary_geom_pred(K.overlaps, "overlaps")
_st_equals_udf = _binary_geom_pred(K.equals, "equals")


def _box_of(t):
    """Normalized closed-form bounds (x0, y0, x1, y1, is_point) of a tag."""
    if t[0] == "point":
        return t[1], t[2], t[1], t[2], True
    if t[0] == "envelope":
        _, x0, y0, x1, y1 = t
        return (F.least(x0, x1), F.least(y0, y1),
                F.greatest(x0, x1), F.greatest(y0, y1), False)
    return None


def _fuse_seg_pred(pred: str, ta, tb) -> Optional[Column]:
    """Exact closed-form crosses/intersects for 2-point segment pairs —
    orientation tests as col-exprs (same math as geom.vec.seg_predicate,
    but valid for ALL pairs: proper crossing is exact even when parallel)."""
    if pred not in ("crosses", "intersects", "disjoint"):
        return None
    a0x, a0y, a1x, a1y = ta[1], ta[2], ta[3], ta[4]
    b0x, b0y, b1x, b1y = tb[1], tb[2], tb[3], tb[4]

    def orient(px, py, qx, qy, tx, ty):
        return (qx - px) * (ty - py) - (qy - py) * (tx - px)

    def onseg(px, py, qx, qy, tx, ty):
        return (
            (tx >= F.least(px, qx)) & (tx <= F.greatest(px, qx))
            & (ty >= F.least(py, qy)) & (ty <= F.greatest(py, qy))
        )

    o1 = orient(a0x, a0y, a1x, a1y, b0x, b0y)
    o2 = orient(a0x, a0y, a1x, a1y, b1x, b1y)
    o3 = orient(b0x, b0y, b1x, b1y, a0x, a0y)
    o4 = orient(b0x, b0y, b1x, b1y, a1x, a1y)
    proper = (o1 * o2 < 0) & (o3 * o4 < 0)
    if pred == "crosses":
        # 1D/1D crosses = interiors meet in a 0-dim point = proper crossing
        return proper
    inter = (
        proper
        | ((o1 == 0) & onseg(a0x, a0y, a1x, a1y, b0x, b0y))
        | ((o2 == 0) & onseg(a0x, a0y, a1x, a1y, b1x, b1y))
        | ((o3 == 0) & onseg(b0x, b0y, b1x, b1y, a0x, a0y))
        | ((o4 == 0) & onseg(b0x, b0y, b1x, b1y, a1x, a1y))
    )
    return inter if pred == "intersects" else ~inter


def _fuse_pred(pred: str, a, b) -> Optional[Column]:
    """Closed-form Column predicate over tagged constructor columns, or
    None. Box algebra mirrors geom.vec.rect_predicate; because
    st_makeenvelope emits a (possibly degenerate) polygon ring whose
    interior is empty at zero width, the strict-interior forms reproduce
    the kernel's polygon semantics there too."""
    ta, tb = _ctortag(a), _ctortag(b)
    if ta is None or tb is None:
        return None
    if ta[0] == "line2" and tb[0] == "line2":
        return _fuse_seg_pred(pred, ta, tb)
    A = _box_of(ta)
    B = _box_of(tb)
    if A is None or B is None:
        return None
    ax0, ay0, ax1, ay1, a_pt = A
    bx0, by0, bx1, by1, b_pt = B

    inter = (ax0 <= bx1) & (bx0 <= ax1) & (ay0 <= by1) & (by0 <= ay1)
    if pred == "intersects":
        return inter
    if pred == "disjoint":
        return ~inter

    if a_pt and b_pt:
        int_int = (ax0 == bx0) & (ay0 == by0)
    elif a_pt:
        int_int = (ax0 > bx0) & (ax0 < bx1) & (ay0 > by0) & (ay0 < by1)
    elif b_pt:
        int_int = (bx0 > ax0) & (bx0 < ax1) & (by0 > ay0) & (by0 < ay1)
    else:
        int_int = (ax0 < bx1) & (bx0 < ax1) & (ay0 < by1) & (by0 < ay1)

    cov_ab = (bx0 >= ax0) & (bx1 <= ax1) & (by0 >= ay0) & (by1 <= ay1)
    cov_ba = (ax0 >= bx0) & (ax1 <= bx1) & (ay0 >= by0) & (ay1 <= by1)

    false_ = inter & ~inter  # null-propagating FALSE
    if pred == "covers":
        return cov_ab if not a_pt else cov_ab & (bx0 == bx1) & (by0 == by1)
    if pred == "coveredby":
        return cov_ba if not b_pt else cov_ba & (ax0 == ax1) & (ay0 == ay1)
    if pred == "contains":
        return cov_ab & int_int
    if pred == "within":
        return cov_ba & int_int
    if pred == "containsproperly":
        if a_pt:
            return cov_ab & int_int
        return (bx0 > ax0) & (bx1 < ax1) & (by0 > ay0) & (by1 < ay1)
    if pred == "equals":
        if a_pt != b_pt:
            return false_
        return (ax0 == bx0) & (ay0 == by0) & (ax1 == bx1) & (ay1 == by1)
    if pred == "touches":
        return inter & ~int_int
    if pred == "overlaps":
        if a_pt != b_pt or a_pt:
            return false_
        return int_int & ~cov_ab & ~cov_ba
    if pred == "crosses":
        return false_
    return None


def _pred_fn(name: str, udf):
    def fn(a: ColumnOrName, b: ColumnOrName) -> Column:
        fused = _fuse_pred(name, a, b)
        if fused is not None:
            return fused
        return udf(_col(a), _col(b))

    return fn


st_intersects = _pred_fn("intersects", _st_intersects_udf)
st_disjoint = _pred_fn("disjoint", _st_disjoint_udf)
st_contains = _pred_fn("contains", _st_contains_udf)
st_containsproperly = _pred_fn("containsproperly", _st_containsproperly_udf)
st_within = _pred_fn("within", _st_within_udf)
st_covers = _pred_fn("covers", _st_covers_udf)
st_coveredby = _pred_fn("coveredby", _st_coveredby_udf)
st_crosses = _pred_fn("crosses", _st_crosses_udf)
st_touches = _pred_fn("touches", _st_touches_udf)
st_overlaps = _pred_fn("overlaps", _st_overlaps_udf)
st_equals = _pred_fn("equals", _st_equals_udf)


@pandas_udf(T.BooleanType())
def _st_dwithin_udf(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
    # uniform point-point batch → one vectorized hypot compare (the
    # reference's native point overload, st_distance.cpp:48)
    ma, mb = V.fixed_matrix(a), V.fixed_matrix(b)
    if ma is not None and mb is not None:
        pa, pb = V.decode_points(ma), V.decode_points(mb)
        if pa is not None and pb is not None:
            dist = d.to_numpy(dtype=np.float64, na_value=np.nan)
            res = np.hypot(pa[0] - pb[0], pa[1] - pb[1]) <= dist
            return pd.Series(res)
    out = []
    for ba, bb, dd in zip(a, b, d):
        if ba is None or bb is None or dd is None:
            out.append(None)
        else:
            out.append(K.dwithin(from_wkb(ba), from_wkb(bb), float(dd)))
    return pd.Series(out)


def st_dwithin(a: ColumnOrName, b: ColumnOrName, dist) -> Column:
    d = _col(dist) if isinstance(dist, (Column, str)) else F.lit(float(dist))
    fused = _fuse_distance(a, b)
    if fused is not None:
        return fused <= d.cast("double")
    return _st_dwithin_udf(_col(a), _col(b), d.cast("double"))


def st_intersects_extent(abox: ColumnOrName, bbox: ColumnOrName) -> Column:
    """`&&` — bbox-only intersects on BOX_2D structs, pure col-expr
    (core/.../st_intersects_extent.cpp)."""
    a, b = _col(abox), _col(bbox)
    return (
        (a["xmin"] <= b["xmax"]) & (a["xmax"] >= b["xmin"])
        & (a["ymin"] <= b["ymax"]) & (a["ymax"] >= b["ymin"])
    )


def st_makebox2d(xmin: ColumnOrName, ymin: ColumnOrName,
                 xmax: ColumnOrName, ymax: ColumnOrName) -> Column:
    """BOX_2D struct from min/max coordinates (types.cpp:33-40) — the
    columnar envelope tier; every derived op below is whole-stage codegen."""
    return F.struct(
        _col(xmin).cast("double").alias("xmin"),
        _col(ymin).cast("double").alias("ymin"),
        _col(xmax).cast("double").alias("xmax"),
        _col(ymax).cast("double").alias("ymax"),
    )


def st_box_intersection(abox: ColumnOrName, bbox: ColumnOrName) -> Column:
    """BOX_2D ∩ BOX_2D → BOX_2D, NULL when disjoint (pure col-expr analog of
    ST_Intersection on axis-aligned envelopes)."""
    a, b = _col(abox), _col(bbox)
    ix = F.struct(
        F.greatest(a["xmin"], b["xmin"]).alias("xmin"),
        F.greatest(a["ymin"], b["ymin"]).alias("ymin"),
        F.least(a["xmax"], b["xmax"]).alias("xmax"),
        F.least(a["ymax"], b["ymax"]).alias("ymax"),
    )
    return F.when(st_intersects_extent(a, b), ix)


def st_box_area(box: ColumnOrName) -> Column:
    """ST_Area on BOX_2D (st_area.cpp BOX_2D overload): width × height,
    0 for NULL/degenerate boxes."""
    b = _col(box)
    w = F.greatest(b["xmax"] - b["xmin"], F.lit(0.0))
    h = F.greatest(b["ymax"] - b["ymin"], F.lit(0.0))
    return F.coalesce(w * h, F.lit(0.0))


def st_box_contains(abox: ColumnOrName, bbox: ColumnOrName) -> Column:
    """a contains b on BOX_2D (closed-set rectangle semantics, matching
    GEOS ST_Contains for non-degenerate rectangles)."""
    a, b = _col(abox), _col(bbox)
    return (
        (a["xmin"] <= b["xmin"]) & (a["xmax"] >= b["xmax"])
        & (a["ymin"] <= b["ymin"]) & (a["ymax"] >= b["ymax"])
    )


def st_box_touches(abox: ColumnOrName, bbox: ColumnOrName) -> Column:
    """Boundary-only contact on BOX_2D: bboxes intersect but the overlap
    region is degenerate (zero width or height)."""
    a, b = _col(abox), _col(bbox)
    zero_w = F.least(a["xmax"], b["xmax"]) == F.greatest(a["xmin"], b["xmin"])
    zero_h = F.least(a["ymax"], b["ymax"]) == F.greatest(a["ymin"], b["ymin"])
    return st_intersects_extent(a, b) & (zero_w | zero_h)


def st_box_overlaps(abox: ColumnOrName, bbox: ColumnOrName) -> Column:
    """ST_Overlaps on BOX_2D: interiors intersect (positive-area overlap)
    and neither rectangle contains the other."""
    a, b = _col(abox), _col(bbox)
    pos_w = F.least(a["xmax"], b["xmax"]) > F.greatest(a["xmin"], b["xmin"])
    pos_h = F.least(a["ymax"], b["ymax"]) > F.greatest(a["ymin"], b["ymin"])
    return pos_w & pos_h & ~st_box_contains(a, b) & ~st_box_contains(b, a)


def st_point_in_box(x: ColumnOrName, y: ColumnOrName, xmin, ymin, xmax, ymax, strict: bool = True) -> Column:
    """Point-within-envelope fast path, pure col-expr. ``strict`` matches
    ST_Within's open-interior semantics (boundary → false)."""
    xc, yc = _col(x), _col(y)
    if strict:
        return (xc > F.lit(xmin)) & (xc < F.lit(xmax)) & (yc > F.lit(ymin)) & (yc < F.lit(ymax))
    return (xc >= F.lit(xmin)) & (xc <= F.lit(xmax)) & (yc >= F.lit(ymin)) & (yc <= F.lit(ymax))


_st_isvalid_udf = _unary_geom_to(T.BooleanType(), K.is_valid)
_st_issimple_udf = _unary_geom_to(T.BooleanType(), K.is_simple)
_st_isring_udf = _unary_geom_to(T.BooleanType(), K.is_ring)


def st_isvalid(geom: ColumnOrName) -> Column:
    return _st_isvalid_udf(_col(geom))


def st_issimple(geom: ColumnOrName) -> Column:
    return _st_issimple_udf(_col(geom))


def st_isring(geom: ColumnOrName) -> Column:
    return _st_isring_udf(_col(geom))


# ============================================================ processing

@pandas_udf(T.BinaryType())
def _st_convexhull_udf(s: pd.Series) -> pd.Series:
    out = []
    for b in s:
        if b is None:
            out.append(None)
            continue
        xy = V.multipoint_xy(bytes(b))  # bulk decode, skip Geometry objects
        if xy is not None:
            g = K.convex_hull_xy(np.column_stack(xy))
        else:
            g = K.convex_hull(from_wkb(b))
        out.append(None if g is None else to_wkb(g))
    return pd.Series(out, dtype=object)
_st_boundary_udf = _unary_geom_to_geom(K.boundary)
_st_envelope_udf = _unary_geom_to_geom(K.envelope)
_st_pointonsurface_udf = _unary_geom_to_geom(K.point_on_surface)
_st_makevalid_udf = _unary_geom_to_geom(K.make_valid)
_st_normalize_udf = _unary_geom_to_geom(K.normalize)
_st_reverse_udf = _unary_geom_to_geom(K.reverse)
_st_flipcoordinates_udf = _unary_geom_to_geom(K.flip_coordinates)
_st_linemerge_udf = _unary_geom_to_geom(K.line_merge)
_st_linemerge_directed_udf = _unary_geom_to_geom(lambda g: K.line_merge(g, directed=True))
_st_force2d_udf = _unary_geom_to_geom(lambda g: K.force_dims(g, False, False))
_st_shortestline_udf = _binary_geom_to_geom(K.shortest_line)
_EMPTY_GC_WKB = b"\x01\x07\x00\x00\x00\x00\x00\x00\x00"


@pandas_udf(T.BinaryType())
def _st_intersection_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Binary intersection with a vectorized rect∩rect fast path: positive
    overlaps emit canonical rectangle WKB in one shot, disjoint pairs emit
    EMPTY GEOMETRYCOLLECTION (matching K.intersection), and degenerate
    edge-touch pairs fall back to the exact kernel row-wise."""
    ma, mb = V.fixed_matrix(a), V.fixed_matrix(b)
    if ma is not None and mb is not None:
        ra, rb = V.rect_bounds(ma), V.rect_bounds(mb)
        if ra is not None and rb is not None:
            n = len(a)
            x0 = np.maximum(ra[:, 0], rb[:, 0])
            y0 = np.maximum(ra[:, 1], rb[:, 1])
            x1 = np.minimum(ra[:, 2], rb[:, 2])
            y1 = np.minimum(ra[:, 3], rb[:, 3])
            pos = (x1 > x0) & (y1 > y0)
            disj = (x1 < x0) | (y1 < y0)
            deg = ~pos & ~disj
            coords = np.empty((n, 5, 2))
            coords[:, 0, 0] = x0; coords[:, 0, 1] = y0
            coords[:, 1, 0] = x1; coords[:, 1, 1] = y0
            coords[:, 2, 0] = x1; coords[:, 2, 1] = y1
            coords[:, 3, 0] = x0; coords[:, 3, 1] = y1
            coords[:, 4, 0] = x0; coords[:, 4, 1] = y0
            blobs = V.encode_polygons_1ring(coords)
            if deg.any():
                out = [
                    blobs[i] if pos[i] else (
                        _EMPTY_GC_WKB if disj[i]
                        else to_wkb(K.intersection(from_wkb(a.iloc[i]), from_wkb(b.iloc[i])))
                    )
                    for i in range(n)
                ]
            else:
                out = [blobs[i] if pos[i] else _EMPTY_GC_WKB for i in range(n)]
            return pd.Series(out, dtype=object)
    cache: dict = {}
    out = []
    for ba, bb in zip(a, b):
        if ba is None or bb is None:
            out.append(None)
            continue
        key = (bytes(ba), bytes(bb))
        if key in cache:
            out.append(cache[key])
            continue
        g = K.intersection(from_wkb(ba), from_wkb(bb))
        v = None if g is None else to_wkb(g)
        cache[key] = v
        out.append(v)
    return pd.Series(out, dtype=object)
def _seg_rect_clip(segs: np.ndarray, rb: np.ndarray):
    """Liang-Barsky: per-row inside parameter interval [t0, t1] of 2-point
    segments (n,2,2) against rects (n,4); (t0, t1, hit) with hit=False for
    no intersection."""
    x0, y0 = segs[:, 0, 0], segs[:, 0, 1]
    dx = segs[:, 1, 0] - x0
    dy = segs[:, 1, 1] - y0
    t0 = np.zeros(len(segs))
    t1 = np.ones(len(segs))
    hit = np.ones(len(segs), dtype=bool)
    for p, q in (
        (-dx, x0 - rb[:, 0]), (dx, rb[:, 2] - x0),
        (-dy, y0 - rb[:, 1]), (dy, rb[:, 3] - y0),
    ):
        with np.errstate(divide="ignore", invalid="ignore"):
            r = q / p
        par = p == 0
        hit &= ~(par & (q < 0))
        ent = (p < 0)
        t0 = np.where(~par & ent, np.maximum(t0, r), t0)
        t1 = np.where(~par & ~ent & (p > 0), np.minimum(t1, r), t1)
    hit &= t0 <= t1
    return t0, t1, hit


def _seg_points(segs, t):
    return np.stack([segs[:, 0, 0] + t * (segs[:, 1, 0] - segs[:, 0, 0]),
                     segs[:, 0, 1] + t * (segs[:, 1, 1] - segs[:, 0, 1])], axis=1)


_GC_HDR = b"\x01\x07\x00\x00\x00"
_ML_HDR = b"\x01\x05\x00\x00\x00"


def _ls_wkb(p, q) -> bytes:
    return (b"\x01\x02\x00\x00\x00\x02\x00\x00\x00"
            + np.asarray([p, q], dtype="<f8").tobytes())


def _mixed_overlay_fast(op: str, a: pd.Series, b: pd.Series):
    """Vectorized union/difference for uniform (2-pt segment, axis-rect)
    batches — the q64-class hot shape. Replicates the kernel's output
    structure branch-for-branch (disjoint collect order, covers collapse,
    LINESTRING vs MULTILINESTRING piece counts)."""
    ma, mb = V.fixed_matrix(a), V.fixed_matrix(b)
    if ma is None or mb is None:
        return None
    segs = V.decode_linestrings(ma)
    if op == "difference":
        # rect − line: identity (lower-dim subtrahend removes no measure)
        if V.rect_bounds(ma) is not None and (
            (lb := V.decode_linestrings(mb)) is not None and lb.shape[1] == 2
        ):
            return pd.Series(list(a), dtype=object)
    if segs is None or segs.shape[1] != 2:
        return None
    rb = V.rect_bounds(mb)
    if rb is None:
        return None
    t0, t1, hit = _seg_rect_clip(segs, rb)
    p0 = _seg_points(segs, t0)
    p1 = _seg_points(segs, t1)
    crossing = hit & (t1 - t0 > 1e-12)
    out = []
    for i in range(len(segs)):
        if not crossing[i]:
            # disjoint or zero-length boundary touch: measure unchanged
            if op == "difference":
                out.append(bytes(a.iloc[i]))
            elif hit[i]:
                # point touch → kernel's dissolve branch order (region, line)
                out.append(_GC_HDR + np.uint32(2).tobytes()
                           + bytes(b.iloc[i]) + bytes(a.iloc[i]))
            else:
                # disjoint → collect order (line, region)
                out.append(_GC_HDR + np.uint32(2).tobytes()
                           + bytes(a.iloc[i]) + bytes(b.iloc[i]))
            continue
        pieces = []
        if t0[i] > 1e-12:
            pieces.append(_ls_wkb(segs[i, 0], p0[i]))
        if t1[i] < 1.0 - 1e-12:
            pieces.append(_ls_wkb(p1[i], segs[i, 1]))
        if op == "difference":
            if not pieces:
                # fully covered → LINESTRING EMPTY
                out.append(b"\x01\x02\x00\x00\x00\x00\x00\x00\x00")
            elif len(pieces) == 1:
                out.append(pieces[0])
            else:
                out.append(_ML_HDR + np.uint32(len(pieces)).tobytes()
                           + b"".join(pieces))
        elif not pieces:
            out.append(bytes(b.iloc[i]))  # line fully covered → the rect
        else:
            parts = [bytes(b.iloc[i])] + pieces
            out.append(_GC_HDR + np.uint32(len(parts)).tobytes()
                       + b"".join(parts))
    return pd.Series(out, dtype=object)


def _overlay_udf(op: str, kern):
    generic = _binary_geom_to_geom(kern)

    @pandas_udf(T.BinaryType())
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) and not a.isna().any() and not b.isna().any():
            fast = _mixed_overlay_fast(op, a, b)
            if fast is not None:
                return fast
        return generic.func(a, b)

    return f


_st_union_udf = _overlay_udf("union", K.union)
_st_difference_udf = _overlay_udf("difference", K.difference)


def st_convexhull(geom: ColumnOrName) -> Column:
    return _st_convexhull_udf(_col(geom))


def st_boundary(geom: ColumnOrName) -> Column:
    return _st_boundary_udf(_col(geom))


def st_envelope(geom: ColumnOrName) -> Column:
    return _st_envelope_udf(_col(geom))


def st_pointonsurface(geom: ColumnOrName) -> Column:
    return _st_pointonsurface_udf(_col(geom))


def st_makevalid(geom: ColumnOrName) -> Column:
    return _st_makevalid_udf(_col(geom))


def st_normalize(geom: ColumnOrName) -> Column:
    return _st_normalize_udf(_col(geom))


def st_reverse(geom: ColumnOrName) -> Column:
    return _st_reverse_udf(_col(geom))


def st_flipcoordinates(geom: ColumnOrName) -> Column:
    return _st_flipcoordinates_udf(_col(geom))


def st_linemerge(geom: ColumnOrName, directed: bool = False) -> Column:
    """Merge connected linestrings; ``directed=True`` only chains
    end→start without reversing (geos/.../st_linemerge.cpp, [,directed])."""
    if directed:
        return _st_linemerge_directed_udf(_col(geom))
    return _st_linemerge_udf(_col(geom))


def st_force2d(geom: ColumnOrName) -> Column:
    return _st_force2d_udf(_col(geom))


def st_force3dz(geom: ColumnOrName, z: float = 0.0) -> Column:
    return _unary_geom_to_geom(lambda g: K.force_dims(g, True, False, z=z))(_col(geom))


def st_force3dm(geom: ColumnOrName, m: float = 0.0) -> Column:
    return _unary_geom_to_geom(lambda g: K.force_dims(g, False, True, m=m))(_col(geom))


def st_force4d(geom: ColumnOrName, z: float = 0.0, m: float = 0.0) -> Column:
    return _unary_geom_to_geom(lambda g: K.force_dims(g, True, True, z=z, m=m))(_col(geom))


def st_shortestline(a: ColumnOrName, b: ColumnOrName) -> Column:
    out = _st_shortestline_udf(_col(a), _col(b))
    ta, tb = _ctortag(a), _ctortag(b)
    if ta is not None and tb is not None and ta[0] == "point" and tb[0] == "line2":
        px, py = ta[1], ta[2]
        ax, ay, bx, by = tb[1], tb[2], tb[3], tb[4]
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        t = F.when(len2 > 0, F.greatest(F.lit(0.0), F.least(F.lit(1.0),
            ((px - ax) * dx + (py - ay) * dy) / len2))).otherwise(F.lit(0.0))
        out = _tag(out, "line2", px, py, ax + t * dx, ay + t * dy)
    return out


def st_intersection(a: ColumnOrName, b: ColumnOrName) -> Column:
    return _st_intersection_udf(_col(a), _col(b))


def st_union(a: ColumnOrName, b: ColumnOrName) -> Column:
    return _st_union_udf(_col(a), _col(b))


def st_difference(a: ColumnOrName, b: ColumnOrName) -> Column:
    return _st_difference_udf(_col(a), _col(b))


def st_simplify(geom: ColumnOrName, tol) -> Column:
    t = float(tol)
    return _unary_geom_to_geom(lambda g: K.simplify(g, t))(_col(geom))


def st_simplifypreservetopology(geom: ColumnOrName, tol) -> Column:
    """DP simplify that never collapses a ring or introduces a
    self-intersection (GEOS TopologyPreservingSimplifier parity class)."""
    t = float(tol)
    return _unary_geom_to_geom(lambda g: K.simplify_preserve_topology(g, t))(_col(geom))


def st_reduceprecision(geom: ColumnOrName, grid) -> Column:
    gr = float(grid)
    return _unary_geom_to_geom(lambda g: K.reduce_precision(g, gr))(_col(geom))


def st_removerepeatedpoints(geom: ColumnOrName, tol: float = 0.0) -> Column:
    t = float(tol)
    return _unary_geom_to_geom(lambda g: K.remove_repeated_points(g, t))(_col(geom))


def st_buffer(geom: ColumnOrName, dist, segments: int = 8,
              cap_style: str = "round", join_style: str = "round",
              mitre_limit: float = 1.0) -> Column:
    """ST_Buffer (geos/.../st_buffer.cpp:64-134). ``cap_style``: 'round'
    (default) / 'flat' / 'square'; ``join_style``: 'round' (default) /
    'mitre' / 'bevel'; ``mitre_limit`` (reference default 1.0) — the
    reference's CAP_* / JOIN_* styles."""
    d = float(dist)
    seg = int(segments)
    cap = cap_style.lower().replace("cap_", "")
    if cap not in ("round", "flat", "square"):
        raise ValueError(f"unsupported cap style {cap_style!r}")
    join = join_style.lower().replace("join_", "").replace("miter", "mitre")
    if join not in ("round", "mitre", "bevel"):
        raise ValueError(f"unsupported join style {join_style!r}")
    ml = float(mitre_limit)
    nv = max(4, 4 * seg)
    ang = np.linspace(0.0, 2.0 * math.pi, nv, endpoint=False)
    cos_a, sin_a = np.cos(ang), np.sin(ang)

    @pandas_udf(T.BinaryType())
    def f(s: pd.Series) -> pd.Series:
        mat = V.fixed_matrix(s)
        if mat is not None:
            rb = V.rect_bounds(mat)
            if rb is not None:
                enc = V.buffer_rects(rb, d, seg, join, ml)
                if enc is not None:
                    return pd.Series(enc, dtype=object)
        # (point buffers have no joins — the vectorized circle tier below is
        # join-style-independent)
        if mat is not None and d > 0 and cap == "round":
            pt = V.decode_points(mat)
            if pt is not None:
                # vectorized circle approximation — same vertices as
                # K.buffer_point (start angle 0, CCW, closed ring)
                x, y = pt
                n = len(x)
                coords = np.empty((n, nv + 1, 2))
                coords[:, :nv, 0] = x[:, None] + d * cos_a[None, :]
                coords[:, :nv, 1] = y[:, None] + d * sin_a[None, :]
                coords[:, nv] = coords[:, 0]
                return pd.Series(V.encode_polygons_1ring(coords), dtype=object)
        out = []
        for b in s:
            if b is None:
                out.append(None)
            else:
                g = K.buffer(from_wkb(b), d, seg, cap, join, ml)
                out.append(None if g is None else to_wkb(g))
        return pd.Series(out, dtype=object)

    out_col = f(_col(geom))
    t = _ctortag(geom)
    if t is not None and t[0] == "point" and d > 0 and cap == "round":
        # point buffer = regular nv-gon circle regardless of join style
        out_col = _tag(out_col, "ngon", t[1], t[2], d, nv)
    return out_col


def _multi_k(g: Geometry) -> Geometry:
    from ..geom.core import _MULTI_OF

    if g.type_id in _MULTI_OF:
        return Geometry.collection(_MULTI_OF[g.type_id], [] if g.is_empty() else [g])
    return g


_st_multi_udf = _unary_geom_to_geom(_multi_k)


def st_multi(geom: ColumnOrName) -> Column:
    return _st_multi_udf(_col(geom))


def st_collectionextract(geom: ColumnOrName, dim: Optional[int] = None) -> Column:
    d = dim
    return _unary_geom_to_geom(lambda g: K.collection_extract(g, d))(_col(geom))


# ============================================================ transforms (PROJ tier)

def _web_mercator_fwd(arr: np.ndarray) -> np.ndarray:
    R = 6378137.0
    out = arr.copy()
    out[:, 0] = np.radians(arr[:, 0]) * R
    out[:, 1] = R * np.log(np.tan(np.pi / 4 + np.radians(arr[:, 1]) / 2))
    return out


def _web_mercator_inv(arr: np.ndarray) -> np.ndarray:
    R = 6378137.0
    out = arr.copy()
    out[:, 0] = np.degrees(arr[:, 0] / R)
    out[:, 1] = np.degrees(2 * np.arctan(np.exp(arr[:, 1] / R)) - np.pi / 2)
    return out


_NATIVE_TRANSFORMS = {
    ("EPSG:4326", "EPSG:3857"): _web_mercator_fwd,
    ("EPSG:3857", "EPSG:4326"): _web_mercator_inv,
}


def st_transform(geom: ColumnOrName, src: str, dst: str, always_xy: bool = True) -> Column:
    """CRS reprojection (proj/functions.cpp:487-513). Native vectorized
    engine (geom/proj.py) covers geographic, Web-Mercator, every UTM zone
    (Krüger-series transverse Mercator), Lambert-93, Conus Albers, LAEA
    Europe, OSGB/ED50 datum shifts, arbitrary PROJ parameter strings
    ('+proj=tmerc/utm/merc/lcc/aea/laea/longlat … +ellps=… +towgs84=…'),
    and NTv2 grid-shifted datums via '+nadgrids=file.gsb' (native .gsb
    codec, geom/ntv2.py); CRS outside that need pyproj, gated behind an
    import."""
    key = (src.upper(), dst.upper())
    if key[0] == key[1]:
        return _col(geom)
    from ..geom.proj import native_transform

    # pass ORIGINAL casing to the parser: +nadgrids values are file paths
    # (case-sensitive on Linux); keyword/ellipsoid lookups upcase internally
    fn = (_NATIVE_TRANSFORMS.get(key) if always_xy else None) \
        or native_transform(src, dst, always_xy=always_xy)
    if fn is not None:

        @pandas_udf(T.BinaryType())
        def _native_transform(s: pd.Series) -> pd.Series:
            mat = V.fixed_matrix(s)
            if mat is not None:
                pt = V.decode_points(mat)
                if pt is not None:
                    xy = np.stack(pt, axis=1)
                    out = fn(xy)
                    return pd.Series(V.encode_points(out[:, 0], out[:, 1]), dtype=object)
            return pd.Series(
                [None if b is None else to_wkb(from_wkb(b).map_coords(fn)) for b in s],
                dtype=object,
            )

        return _native_transform(_col(geom))
    try:
        import pyproj  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            f"ST_Transform {src}->{dst} requires pyproj (not installed); "
            "native support: geographic, EPSG:3857, UTM (326xx/327xx/258xx/"
            "269xx/230xx), EPSG:2154/5070/3035/27700/4277/4230, and PROJ "
            "strings (+proj=tmerc/utm/merc/lcc/aea/laea/longlat with "
            "+ellps/+towgs84)"
        ) from e

    def make(s=src, d=dst, xy=always_xy):
        import pyproj

        tr = pyproj.Transformer.from_crs(s, d, always_xy=xy)

        def f(arr):
            x, y = tr.transform(arr[:, 0], arr[:, 1])
            out = arr.copy()
            out[:, 0], out[:, 1] = x, y
            return out

        return f

    fn = make()
    return _unary_geom_to_geom(lambda g: g.map_coords(fn))(_col(geom))


# ------ spheroid (GeographicLib tier) — WGS84 geodesics, native impl --------

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563


def _geodesic_inverse_m(lon1, lat1, lon2, lat2) -> float:
    """Vincenty inverse on WGS84 (replaces GeographicLib; accurate to ~mm
    except nearly-antipodal where it falls back to haversine)."""
    a, f = _WGS84_A, _WGS84_F
    b = (1 - f) * a
    L = math.radians(lon2 - lon1)
    U1 = math.atan((1 - f) * math.tan(math.radians(lat1)))
    U2 = math.atan((1 - f) * math.tan(math.radians(lat2)))
    sU1, cU1 = math.sin(U1), math.cos(U1)
    sU2, cU2 = math.sin(U2), math.cos(U2)
    lam = L
    for _ in range(100):
        sl, cl = math.sin(lam), math.cos(lam)
        s_sig = math.sqrt((cU2 * sl) ** 2 + (cU1 * sU2 - sU1 * cU2 * cl) ** 2)
        if s_sig == 0:
            return 0.0
        c_sig = sU1 * sU2 + cU1 * cU2 * cl
        sig = math.atan2(s_sig, c_sig)
        s_alpha = cU1 * cU2 * sl / s_sig
        c2_alpha = 1 - s_alpha**2
        c2sm = c_sig - 2 * sU1 * sU2 / c2_alpha if c2_alpha != 0 else 0.0
        C = f / 16 * c2_alpha * (4 + f * (4 - 3 * c2_alpha))
        lam_prev = lam
        lam = L + (1 - C) * f * s_alpha * (
            sig + C * s_sig * (c2sm + C * c_sig * (-1 + 2 * c2sm**2))
        )
        if abs(lam - lam_prev) < 1e-12:
            break
    else:
        return K.haversine(lat1, lon1, lat2, lon2)
    u2 = c2_alpha * (a**2 - b**2) / b**2
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    d_sig = B * s_sig * (
        c2sm + B / 4 * (c_sig * (-1 + 2 * c2sm**2) - B / 6 * c2sm * (-3 + 4 * s_sig**2) * (-3 + 4 * c2sm**2))
    )
    return b * A * (sig - d_sig)


@pandas_udf(T.DoubleType())
def _st_distance_spheroid_udf(x1: pd.Series, y1: pd.Series, x2: pd.Series, y2: pd.Series) -> pd.Series:
    from ..geom import geodesic as GEO

    # reference axis order is [latitude, longitude]
    # (st_distance_spheroid.cpp docs:41-45): x = lat. Exact Karney-style
    # inverse, vectorized bisection across the Arrow batch.
    lat1 = x1.to_numpy(dtype=np.float64, na_value=np.nan)
    lon1 = y1.to_numpy(dtype=np.float64, na_value=np.nan)
    lat2 = x2.to_numpy(dtype=np.float64, na_value=np.nan)
    lon2 = y2.to_numpy(dtype=np.float64, na_value=np.nan)
    d = GEO.inverse_batch(lat1, lon1, lat2, lon2)
    out = pd.Series(d)
    return out.where(~np.isnan(d), None)


def st_distance_spheroid(x1, y1, x2, y2) -> Column:
    """Geodesic distance on the WGS84 ellipsoid
    (geographiclib/.../st_distance_spheroid)."""
    return _st_distance_spheroid_udf(
        _col(x1).cast("double"), _col(y1).cast("double"),
        _col(x2).cast("double"), _col(y2).cast("double"),
    )


def _spheroid_len(g: Geometry) -> float:
    from ..geom import geodesic as GEO

    total = 0.0
    if g.type_id == Wkb.LINESTRING:
        arr = g.coords
        if len(arr) >= 2:
            # one vectorized exact-geodesic solve over every segment;
            # reference axis order is [latitude, longitude]: x = lat
            # (st_length_spheroid.cpp passes vert.x as GeographicLib lat)
            total = float(np.nansum(GEO.inverse_batch(
                arr[:-1, 0], arr[:-1, 1], arr[1:, 0], arr[1:, 1]
            )))
    elif g.parts is not None:
        total = sum(_spheroid_len(p) for p in g.parts)
    return total


_st_length_spheroid_udf = _unary_geom_to(T.DoubleType(), _spheroid_len)


def st_length_spheroid(geom: ColumnOrName) -> Column:
    return _st_length_spheroid_udf(_col(geom))


def _spheroid_area(g: Geometry) -> float:
    """Exact ellipsoidal polygon area: Green's theorem with the authalic
    q(φ) function integrated along the geodesic edges (geom/geodesic.py —
    GeographicLib-parity without the C4 series)."""
    from ..geom import geodesic as GEO

    total = 0.0
    for p in g.flatten():
        if p.type_id == Wkb.POLYGON and p.rings:
            # reference axis order [lat, lon] (st_area_spheroid.cpp:58
            # feeds x to GeographicLib's lat) — ring_area wants lon/lat
            total += GEO.ring_area(p.rings[0][:, [1, 0]])
            for h in p.rings[1:]:
                total -= GEO.ring_area(h[:, [1, 0]])
    return total


_st_area_spheroid_udf = _unary_geom_to(T.DoubleType(), _spheroid_area)


def st_area_spheroid(geom: ColumnOrName) -> Column:
    return _st_area_spheroid_udf(_col(geom))


def _spheroid_perimeter(g: Geometry) -> float:
    total = 0.0
    for p in g.flatten():
        if p.type_id == Wkb.POLYGON:
            for r in p.rings:
                total += _spheroid_len(Geometry(Wkb.LINESTRING, coords=r))
    return total


_st_perimeter_spheroid_udf = _unary_geom_to(T.DoubleType(), _spheroid_perimeter)


def st_perimeter_spheroid(geom: ColumnOrName) -> Column:
    return _st_perimeter_spheroid_udf(_col(geom))


def st_dwithin_spheroid(x1, y1, x2, y2, dist) -> Column:
    return st_distance_spheroid(x1, y1, x2, y2) <= F.lit(float(dist))


# ============================================================ remaining reference surface
# (st_point.cpp 3D/4D overloads, st_xyzm.cpp Z/M bounds, st_assvg.cpp,
#  st_hilbert.cpp geometry/box overloads, st_quadkey.cpp geometry overload)

def st_point3d(x: ColumnOrName, y: ColumnOrName, z: ColumnOrName) -> Column:
    """POINT_3D struct (types.cpp:17-22)."""
    return F.struct(
        _col(x).cast("double").alias("x"),
        _col(y).cast("double").alias("y"),
        _col(z).cast("double").alias("z"),
    )


def st_point4d(x: ColumnOrName, y: ColumnOrName, z: ColumnOrName, m: ColumnOrName) -> Column:
    """POINT_4D struct (types.cpp:24-31)."""
    return F.struct(
        _col(x).cast("double").alias("x"),
        _col(y).cast("double").alias("y"),
        _col(z).cast("double").alias("z"),
        _col(m).cast("double").alias("m"),
    )


def _zm_minmax(idx_fn, reducer):
    def k(g: Geometry):
        vals = []
        for leaf in g.flatten():
            idx = idx_fn(leaf)
            if idx is None:
                continue
            for arr in leaf.vertex_arrays():
                if len(arr):
                    vals.append(arr[:, idx])
        if not vals:
            return None
        return float(reducer(np.concatenate(vals)))

    return k


def _z_idx(g: Geometry):
    return 2 if g.has_z else None


def _m_idx(g: Geometry):
    return (2 + int(g.has_z)) if g.has_m else None


_st_zmin_udf = _unary_geom_to(T.DoubleType(), _zm_minmax(_z_idx, np.min))
_st_zmax_udf = _unary_geom_to(T.DoubleType(), _zm_minmax(_z_idx, np.max))
_st_mmin_udf = _unary_geom_to(T.DoubleType(), _zm_minmax(_m_idx, np.min))
_st_mmax_udf = _unary_geom_to(T.DoubleType(), _zm_minmax(_m_idx, np.max))


def st_zmin(geom: ColumnOrName) -> Column:
    return _st_zmin_udf(_col(geom))


def st_zmax(geom: ColumnOrName) -> Column:
    return _st_zmax_udf(_col(geom))


def st_mmin(geom: ColumnOrName) -> Column:
    return _st_mmin_udf(_col(geom))


def st_mmax(geom: ColumnOrName) -> Column:
    return _st_mmax_udf(_col(geom))


def _svg_num(v: float, digits: int) -> str:
    s = f"{v:.{digits}f}".rstrip("0").rstrip(".")
    return "0" if s in ("-0", "") else s


def _assvg_kernel(g: Geometry, rel: bool, digits: int) -> str:
    """PostGIS-compatible SVG path data (st_assvg.cpp:21-130): y negated,
    points render as cx/cy (abs) or x/y (rel) attrs, rings close with z/Z."""

    def fmt(x, y):
        return f"{_svg_num(x, digits)} {_svg_num(-y, digits)}"

    def path(arr: np.ndarray, close: bool) -> str:
        if len(arr) == 0:
            return ""
        out = ["M", fmt(arr[0, 0], arr[0, 1]), "l" if rel else "L"]
        if rel:
            last = arr[0]
            n = len(arr)
            for i in range(1, n):
                if close and i == n - 1:
                    out.append("z")
                else:
                    d = arr[i] - last
                    # SVG y axis is flipped, so the relative delta negates dy
                    out.append(f"{_svg_num(d[0], digits)} {_svg_num(-d[1], digits)}")
                    last = arr[i]
        else:
            n = len(arr)
            for i in range(1, n):
                if close and i == n - 1:
                    out.append("Z")
                else:
                    out.append(fmt(arr[i, 0], arr[i, 1]))
        return " ".join(out)

    def render(node: Geometry) -> str:
        if node.is_empty():
            return ""
        if node.type_id == Wkb.POINT:
            x, y = float(node.coords[0]), float(node.coords[1])
            if rel:
                return f'x="{_svg_num(x, digits)}" y="{_svg_num(-y, digits)}"'
            return f'cx="{_svg_num(x, digits)}" cy="{_svg_num(-y, digits)}"'
        if node.type_id == Wkb.LINESTRING:
            return path(node.coords, close=False)
        if node.type_id == Wkb.POLYGON:
            return " ".join(path(ring, close=True) for ring in node.rings)
        # multi-part: reference delimiters (st_assvg.cpp:106-122) —
        # ',' for MULTIPOINT, ';' for GEOMETRYCOLLECTION, ' ' otherwise
        delim = " "
        if node.type_id == Wkb.MULTIPOINT:
            delim = ","
        elif node.type_id == Wkb.GEOMETRYCOLLECTION:
            delim = ";"
        return delim.join(render(p) for p in (node.parts or []))

    return render(g)


def st_assvg(geom: ColumnOrName, rel=False, maxdecimaldigits: int = 15) -> Column:
    r = bool(rel)
    d = int(maxdecimaldigits)
    return _unary_geom_to(T.StringType(), lambda g: _assvg_kernel(g, r, d))(_col(geom))


def st_hilbert(geom: ColumnOrName, xmin: float, ymin: float, xmax: float, ymax: float,
               order: int = 16) -> Column:
    """GEOMETRY overload: hilbert index of the bbox center within the given
    bounds (st_hilbert.cpp:126-149)."""
    b = st_extent(geom)
    cx = (b["xmin"] + (b["xmax"] - b["xmin"]) / 2)
    cy = (b["ymin"] + (b["ymax"] - b["ymin"]) / 2)
    return st_hilbert_xy(cx, cy, xmin, ymin, xmax, ymax, order=order)


def st_hilbert_box(box: ColumnOrName, xmin: float, ymin: float, xmax: float, ymax: float,
                   order: int = 16) -> Column:
    """BOX_2D overload: hilbert index of the box center (st_hilbert.cpp:183-184)."""
    b = _col(box)
    cx = (b["xmin"] + (b["xmax"] - b["xmin"]) / 2)
    cy = (b["ymin"] + (b["ymax"] - b["ymin"]) / 2)
    return st_hilbert_xy(cx, cy, xmin, ymin, xmax, ymax, order=order)


def st_quadkey(geom: ColumnOrName, level) -> Column:
    """GEOMETRY (point) overload (st_quadkey.cpp:62-99)."""
    g = _col(geom)
    return st_quadkey_xy(_st_x_udf(g), _st_y_udf(g), level)
