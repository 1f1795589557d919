"""Cast lattice between GEOMETRY (WKB BinaryType) and the columnar native
types (SURVEY §2.B; reference geometry_cast.cpp:243-271, dimensional_cast.cpp,
wkb_cast.cpp, varchar_cast.cpp).

POINT_2D = struct<x,y>, LINESTRING_2D = array<struct<x,y>>,
POLYGON_2D = array<array<struct<x,y>>>, BOX_2D = struct<xmin,ymin,xmax,ymax>.
Casts to a narrower type yield NULL when the geometry is not of that kind
(reference raises ConversionException; NULL is the Spark-idiomatic analog and
matches TRY_CAST semantics)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..geom import vec as V
from ..geom.core import Geometry, LINESTRING, POINT, POLYGON
from ..geom.wkb import from_wkb, to_wkb
from .scalar import _col, ColumnOrName, POINT2D_TYPE, _st_makeenvelope_udf

LINESTRING2D_TYPE = T.ArrayType(POINT2D_TYPE)
POLYGON2D_TYPE = T.ArrayType(T.ArrayType(POINT2D_TYPE))


@pandas_udf(POINT2D_TYPE)
def _geom_to_point2d_udf(s: pd.Series) -> pd.DataFrame:
    mat = V.fixed_matrix(s)
    if mat is not None:
        pt = V.decode_points(mat)
        if pt is not None:
            return pd.DataFrame({"x": pt[0], "y": pt[1]})
    rows = []
    for b in s:
        g = from_wkb(b) if b is not None else None
        if g is None or g.type_id != POINT or g.coords is None:
            rows.append((None, None))
        else:
            rows.append((float(g.coords[0]), float(g.coords[1])))
    return pd.DataFrame(rows, columns=["x", "y"])


def geom_to_point2d(geom: ColumnOrName) -> Column:
    return _geom_to_point2d_udf(_col(geom))


@pandas_udf(T.BinaryType())
def _point2d_to_geom_udf(x: pd.Series, y: pd.Series) -> pd.Series:
    mask = x.isna() | y.isna()
    out = V.encode_points(
        x.to_numpy(dtype=np.float64, na_value=np.nan),
        y.to_numpy(dtype=np.float64, na_value=np.nan),
    )
    if mask.any():
        out = [None if m else v for m, v in zip(mask.to_numpy(), out)]
    return pd.Series(out, dtype=object)


def point2d_to_geom(pt: ColumnOrName) -> Column:
    p = _col(pt)
    return _point2d_to_geom_udf(p["x"], p["y"])


@pandas_udf(LINESTRING2D_TYPE)
def _geom_to_linestring2d_udf(s: pd.Series) -> pd.Series:
    out = []
    for b in s:
        g = from_wkb(b) if b is not None else None
        if g is None or g.type_id != LINESTRING:
            out.append(None)
        else:
            out.append([{"x": float(c[0]), "y": float(c[1])} for c in g.coords])
    return pd.Series(out, dtype=object)


def geom_to_linestring2d(geom: ColumnOrName) -> Column:
    return _geom_to_linestring2d_udf(_col(geom))


@pandas_udf(T.BinaryType())
def _linestring2d_to_geom_udf(s: pd.Series) -> pd.Series:
    out = []
    for arr in s:
        if arr is None:
            out.append(None)
            continue
        coords = np.asarray([(p["x"], p["y"]) for p in arr], dtype=np.float64).reshape(-1, 2)
        out.append(to_wkb(Geometry(LINESTRING, coords=coords)))
    return pd.Series(out, dtype=object)


def linestring2d_to_geom(line: ColumnOrName) -> Column:
    return _linestring2d_to_geom_udf(_col(line))


@pandas_udf(POLYGON2D_TYPE)
def _geom_to_polygon2d_udf(s: pd.Series) -> pd.Series:
    out = []
    for b in s:
        g = from_wkb(b) if b is not None else None
        if g is None or g.type_id != POLYGON:
            out.append(None)
        else:
            out.append(
                [[{"x": float(c[0]), "y": float(c[1])} for c in ring] for ring in g.rings]
            )
    return pd.Series(out, dtype=object)


def geom_to_polygon2d(geom: ColumnOrName) -> Column:
    return _geom_to_polygon2d_udf(_col(geom))


@pandas_udf(T.BinaryType())
def _polygon2d_to_geom_udf(s: pd.Series) -> pd.Series:
    out = []
    for rings in s:
        if rings is None:
            out.append(None)
            continue
        arrs = [
            np.asarray([(p["x"], p["y"]) for p in ring], dtype=np.float64).reshape(-1, 2)
            for ring in rings
        ]
        out.append(to_wkb(Geometry(POLYGON, rings=arrs)))
    return pd.Series(out, dtype=object)


def polygon2d_to_geom(poly: ColumnOrName) -> Column:
    return _polygon2d_to_geom_udf(_col(poly))


def box2d_to_geom(box: ColumnOrName) -> Column:
    """BOX_2D → 5-vertex polygon GEOMETRY (geometry_cast.cpp:243-271)."""
    b = _col(box)
    return _st_makeenvelope_udf(b["xmin"], b["ymin"], b["xmax"], b["ymax"])


def point3d_to_point2d(pt: ColumnOrName) -> Column:
    """Dimensional cast — drop Z/M (dimensional_cast.cpp:34-36)."""
    p = _col(pt)
    return F.struct(p["x"].alias("x"), p["y"].alias("y"))


point4d_to_point2d = point3d_to_point2d


def st_point2dfromwkb(wkb: ColumnOrName) -> Column:
    """WKB → POINT_2D struct (st_point.cpp ST_Point2DFromWKB; our GEOMETRY
    is already WKB so this is the geometry→native cast)."""
    return geom_to_point2d(wkb)


def st_linestring2dfromwkb(wkb: ColumnOrName) -> Column:
    """WKB → LINESTRING_2D (ST_LineString2DFromWKB)."""
    return geom_to_linestring2d(wkb)


def st_polygon2dfromwkb(wkb: ColumnOrName) -> Column:
    """WKB → POLYGON_2D (ST_Polygon2DFromWKB)."""
    return geom_to_polygon2d(wkb)
