"""Native DXF (AutoCAD Drawing Exchange Format) source/sink — no GDAL.

DXF is among the OGR vector drivers the reference exposes through ST_Read
(st_read.cpp:612-641). The ASCII format is publicly documented by
Autodesk: a stream of (group code, value) line pairs; the ENTITIES
section carries the geometry. Supported entities (the same core set OGR
maps to simple features):

    POINT                → Point            (codes 10/20)
    LINE                 → LineString       (10/20 → 11/21)
    LWPOLYLINE           → LineString / Polygon when closed (flag 70 & 1)
    POLYLINE…VERTEX…SEQEND → LineString / Polygon when closed
    CIRCLE               → Polygon (96-gon; OGR likewise tessellates)
    ARC                  → LineString (arc sampled per degree)

Polyline vertices honor the **bulge** (group code 42): bulge = tan(θ/4)
of the arc segment from that vertex to the next one; arc segments are
tessellated at ≤4° steps (OGR's DXF driver likewise tessellates bulges
rather than emitting chords).

Attributes: layer (code 8) and the entity type ride along as columns.
Files are parsed one task per file through the shared ``binaryFile`` scan
(sources/filescan.py) — DXF is a single-document format.
"""
from __future__ import annotations

import math
from typing import Iterator, List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom.core import LINESTRING, POLYGON, Geometry
from ..geom.wkb import from_wkb, to_wkb
from .filescan import Scan, run

DXF_SCHEMA = T.StructType([
    T.StructField("source_file", T.StringType()),
    T.StructField("layer", T.StringType()),
    T.StructField("entity", T.StringType()),
    T.StructField("geom", T.BinaryType()),
])


def _pairs(text: str) -> Iterator[Tuple[int, str]]:
    lines = text.splitlines()
    for i in range(0, len(lines) - 1, 2):
        try:
            code = int(lines[i].strip())
        except ValueError:
            continue
        yield code, lines[i + 1].strip()


def _close_ring(pts: List[Tuple[float, float]]) -> np.ndarray:
    arr = pts + ([pts[0]] if pts and pts[0] != pts[-1] else [])
    return np.asarray(arr, dtype=np.float64)


def _bulge_arc(p0: Tuple[float, float], p1: Tuple[float, float],
               b: float) -> List[Tuple[float, float]]:
    """Intermediate points of the bulge arc from p0 to p1 (both excluded).
    bulge = tan(θ/4), θ = included angle, positive = counterclockwise."""
    dx, dy = p1[0] - p0[0], p1[1] - p0[1]
    d = math.hypot(dx, dy)
    if d == 0.0 or b == 0.0:
        return []
    theta = 4.0 * math.atan(b)            # signed sweep
    r = d * (1.0 + b * b) / (4.0 * b)     # signed radius
    # center = chord midpoint shifted along the left normal by r − sagitta
    mx, my = (p0[0] + p1[0]) / 2.0, (p0[1] + p1[1]) / 2.0
    nx, ny = -dy / d, dx / d              # left normal of p0→p1
    h = r - b * d / 2.0                   # r − sagitta (signed consistently)
    cx_, cy_ = mx + nx * h, my + ny * h
    a_start = math.atan2(p0[1] - cy_, p0[0] - cx_)
    n = max(2, int(math.ceil(abs(math.degrees(theta)) / 4.0)))
    rad = abs(r)
    return [
        (cx_ + rad * math.cos(a_start + theta * i / n),
         cy_ + rad * math.sin(a_start + theta * i / n))
        for i in range(1, n)
    ]


def _apply_bulges(pts: List[Tuple[float, float]], bulges: List[float],
                  closed: bool) -> List[Tuple[float, float]]:
    """Expand a vertex list with tessellated bulge arcs; bulges[i] curves
    the segment pts[i]→pts[i+1] (and, when closed, the last→first wrap)."""
    if not any(bulges):
        return pts
    out: List[Tuple[float, float]] = []
    n = len(pts)
    for i in range(n):
        out.append(pts[i])
        j = i + 1
        if j == n:
            if closed and bulges[i]:
                out.extend(_bulge_arc(pts[i], pts[0], bulges[i]))
            break
        if bulges[i]:
            out.extend(_bulge_arc(pts[i], pts[j], bulges[i]))
    return out


def parse_dxf_text(text: str, source: str) -> List[tuple]:
    rows: List[tuple] = []
    it = _pairs(text)
    in_entities = False
    cur: Optional[str] = None
    layer = ""
    pts: List[Tuple[float, float]] = []
    bulges: List[float] = []
    x = y = x1 = y1 = cx = cy = r = a0 = a1 = None
    closed = False
    in_polyline = False
    in_vertex = False

    def flush():
        nonlocal cur, pts, bulges, x, y, x1, y1, cx, cy, r, a0, a1, closed
        g = None
        if cur == "POINT" and x is not None:
            g = Geometry.point(x, y)
        elif cur == "LINE" and x is not None and x1 is not None:
            g = Geometry(LINESTRING, coords=np.asarray(
                [(x, y), (x1, y1)], dtype=np.float64))
        elif cur in ("LWPOLYLINE", "POLYLINE") and len(pts) >= 2:
            tess = _apply_bulges(pts, bulges, closed)
            if closed and len(pts) >= 3:
                g = Geometry(POLYGON, rings=[_close_ring(tess)])
            else:
                g = Geometry(LINESTRING,
                             coords=np.asarray(tess, dtype=np.float64))
        elif cur == "CIRCLE" and cx is not None and r is not None:
            th = np.linspace(0.0, 2 * math.pi, 97)
            ring = np.stack([cx + r * np.cos(th), cy + r * np.sin(th)], axis=1)
            ring[-1] = ring[0]
            g = Geometry(POLYGON, rings=[ring])
        elif cur == "ARC" and cx is not None and r is not None \
                and a0 is not None and a1 is not None:
            sweep = (a1 - a0) % 360.0 or 360.0
            n = max(2, int(sweep) + 1)
            th = np.radians(a0 + np.linspace(0.0, sweep, n))
            g = Geometry(LINESTRING, coords=np.stack(
                [cx + r * np.cos(th), cy + r * np.sin(th)], axis=1))
        if g is not None:
            rows.append((source, layer, cur, to_wkb(g)))
        cur = None
        pts = []
        bulges = []
        x = y = x1 = y1 = cx = cy = r = a0 = a1 = None
        closed = False

    in_section_header = False
    for code, val in it:
        if code == 2 and in_section_header:
            in_entities = val == "ENTITIES"
            in_section_header = False
            continue
        if code == 0:
            if val == "SECTION":
                in_section_header = True
                continue
            if val == "ENDSEC":
                if in_entities and cur and not in_polyline:
                    flush()
                in_entities = False
                in_polyline = False
                continue
            if not in_entities:
                continue
            if val == "VERTEX" and in_polyline:
                in_vertex = True  # vertex coords accumulate into pts below
                continue
            if val == "SEQEND" and in_polyline:
                in_polyline = False
                in_vertex = False
                flush()
                continue
            if cur and not in_polyline:
                flush()
            if val in ("POINT", "LINE", "LWPOLYLINE", "CIRCLE", "ARC"):
                cur = val
            elif val == "POLYLINE":
                cur = "POLYLINE"
                in_polyline = True
                in_vertex = False
            else:
                cur = None
            continue
        if not in_entities or cur is None:
            continue
        if code == 8:
            layer = val
        elif code == 10:
            fx = float(val)
            if cur == "LWPOLYLINE" or (cur == "POLYLINE" and in_vertex):
                pts.append((fx, 0.0))
                bulges.append(0.0)
            elif cur == "POLYLINE":
                pass  # POLYLINE header carries a dummy 10/20 point
            elif cur in ("CIRCLE", "ARC"):
                cx = fx
            else:
                x = fx
        elif code == 20:
            fy = float(val)
            if cur == "LWPOLYLINE" or (cur == "POLYLINE" and in_vertex):
                if pts:
                    pts[-1] = (pts[-1][0], fy)
            elif cur == "POLYLINE":
                pass
            elif cur in ("CIRCLE", "ARC"):
                cy = fy
            else:
                y = fy
        elif code == 11:
            x1 = float(val)
        elif code == 21:
            y1 = float(val)
        elif code == 40:
            r = float(val)
        elif code == 42:
            # bulge of the segment leaving the most recent vertex
            if pts and (cur == "LWPOLYLINE"
                        or (cur == "POLYLINE" and in_vertex)):
                bulges[-1] = float(val)
        elif code == 50:
            a0 = float(val)
        elif code == 51:
            a1 = float(val)
        elif code == 70 and not in_vertex:
            # polyline closed flag (VERTEX entities carry their own 70)
            closed = bool(int(val) & 1)
    if cur:
        flush()
    return rows


def dxf_scan(path: str) -> Scan:
    return Scan(
        DXF_SCHEMA,
        lambda p, data: parse_dxf_text(data.decode("utf-8", "replace"), p),
        path=path, globs=("*.dxf",))


def st_read_dxf(spark: SparkSession, path: str, geom_col: str = "geom"
                ) -> DataFrame:
    return run(spark, dxf_scan(path), geom_col)


# ------------------------------------------------------------------ sink

def _ent(code: int, val) -> str:
    return f"{code}\n{val}\n"


def st_write_dxf(
    df: DataFrame,
    path: str,
    geom_col: str = "geom",
    layer_col: Optional[str] = None,
    max_bytes: int = 1 << 30,
) -> None:
    """Single-writer DXF sink: points → POINT, lines → LWPOLYLINE,
    polygons → closed LWPOLYLINE (exterior ring; DXF has no hole model
    for plain polylines), multis exploded one entity per part."""
    from ..geom import core as C

    est = df.agg(F.sum(F.length(F.col(geom_col))).alias("b")) \
        .collect()[0]["b"] or 0
    if est > max_bytes:
        raise ValueError(
            f"st_write_dxf is a single-writer sink; payload ~{est >> 20} "
            f"MiB exceeds {max_bytes >> 20} MiB (use parquet)")
    rows = df.collect()
    out = ["0\nSECTION\n2\nENTITIES\n"]

    def emit(g, layer):
        if g.type_id == C.POINT and not g.is_empty():
            out.append("0\nPOINT\n" + _ent(8, layer)
                       + _ent(10, float(g.coords[0]))
                       + _ent(20, float(g.coords[1])))
        elif g.type_id == C.LINESTRING:
            out.append("0\nLWPOLYLINE\n" + _ent(8, layer)
                       + _ent(90, len(g.coords)) + _ent(70, 0)
                       + "".join(_ent(10, float(p[0])) + _ent(20, float(p[1]))
                                 for p in g.coords))
        elif g.type_id == C.POLYGON and g.rings:
            ring = g.rings[0]
            n = len(ring) - 1  # closed flag replaces the repeated vertex
            out.append("0\nLWPOLYLINE\n" + _ent(8, layer)
                       + _ent(90, n) + _ent(70, 1)
                       + "".join(_ent(10, float(p[0])) + _ent(20, float(p[1]))
                                 for p in ring[:n]))
        elif g.type_id in (C.MULTIPOINT, C.MULTILINESTRING, C.MULTIPOLYGON,
                           C.GEOMETRYCOLLECTION):
            for part in g.parts or []:
                emit(part, layer)

    for r in rows:
        b = r[geom_col]
        if b is None:
            continue
        emit(from_wkb(bytes(b)),
             str(r[layer_col]) if layer_col else "0")
    out.append("0\nENDSEC\n0\nEOF\n")
    with open(path, "w") as fh:
        fh.write("".join(out))
