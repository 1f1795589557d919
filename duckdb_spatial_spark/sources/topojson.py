"""Native TopoJSON source — no GDAL (OGR's TopoJSON driver is likewise
read-only; st_read.cpp:612-641 enumerates it).

TopoJSON (public spec, topojson.org/specification) stores shared topology
once: a global ``arcs`` table of polyline fragments — delta-encoded
integers when a ``transform`` (quantization) is present — and geometry
objects that reference arcs by index, a negative index ``i`` meaning the
ones'-complement arc ``~i`` traversed backwards. Objects are named layers;
each decodes to simple features here (geom WKB + the object name + the
feature ``id``/``properties`` as a JSON string).
"""
from __future__ import annotations

import json
from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..geom.core import (GEOMETRYCOLLECTION, LINESTRING, MULTILINESTRING,
                         MULTIPOINT, MULTIPOLYGON, POLYGON, Geometry, collect)
from ..geom.wkb import to_wkb
from .filescan import Scan, run

TOPOJSON_SCHEMA = T.StructType([
    T.StructField("source_file", T.StringType()),
    T.StructField("layer", T.StringType()),
    T.StructField("id", T.StringType()),
    T.StructField("properties", T.StringType()),
    T.StructField("geom", T.BinaryType()),
])


def _decode_arcs(topo: dict) -> List[np.ndarray]:
    tr = topo.get("transform")
    out = []
    for arc in topo.get("arcs", []):
        a = np.asarray(arc, dtype=np.float64)
        if a.ndim != 2 or len(a) == 0:
            out.append(np.zeros((0, 2)))
            continue
        if tr is not None:
            a = a.copy()
            a[:, 0] = np.cumsum(a[:, 0])
            a[:, 1] = np.cumsum(a[:, 1])
            sx, sy = tr["scale"]
            tx, ty = tr["translate"]
            a = np.stack([a[:, 0] * sx + tx, a[:, 1] * sy + ty], axis=1)
        else:
            a = a[:, :2]
        out.append(np.ascontiguousarray(a))
    return out


def _point(topo: dict, pos) -> np.ndarray:
    tr = topo.get("transform")
    x, y = float(pos[0]), float(pos[1])
    if tr is not None:
        sx, sy = tr["scale"]
        tx, ty = tr["translate"]
        x, y = x * sx + tx, y * sy + ty
    return np.asarray([x, y])


def _stitch(arcs: List[np.ndarray], idxs) -> np.ndarray:
    """Concatenate referenced arcs (negative = ones'-complement reversed),
    dropping the duplicated junction vertex between consecutive arcs."""
    parts = []
    for i in idxs:
        a = arcs[~i][::-1] if i < 0 else arcs[i]
        if parts and len(a) and np.array_equal(parts[-1][-1], a[0]):
            a = a[1:]
        if len(a):
            parts.append(a)
    if not parts:
        return np.zeros((0, 2))
    return np.concatenate(parts, axis=0)


def _geometry(topo: dict, arcs: List[np.ndarray], g: dict) -> Optional[Geometry]:
    t = g.get("type")
    if t == "Point":
        p = _point(topo, g["coordinates"])
        return Geometry.point(float(p[0]), float(p[1]))
    if t == "MultiPoint":
        pts = [_point(topo, c) for c in g["coordinates"]]
        return Geometry.collection(
            MULTIPOINT, [Geometry.point(float(p[0]), float(p[1])) for p in pts])
    if t == "LineString":
        return Geometry(LINESTRING, coords=_stitch(arcs, g["arcs"]))
    if t == "MultiLineString":
        return Geometry.collection(
            MULTILINESTRING,
            [Geometry(LINESTRING, coords=_stitch(arcs, seq))
             for seq in g["arcs"]])
    if t == "Polygon":
        rings = [_stitch(arcs, ring) for ring in g["arcs"]]
        return Geometry(POLYGON, rings=[r for r in rings if len(r) >= 4])
    if t == "MultiPolygon":
        polys = []
        for poly in g["arcs"]:
            rings = [_stitch(arcs, ring) for ring in poly]
            polys.append(Geometry(POLYGON,
                                  rings=[r for r in rings if len(r) >= 4]))
        return Geometry.collection(MULTIPOLYGON, polys)
    if t == "GeometryCollection":
        parts = [_geometry(topo, arcs, sub) for sub in g.get("geometries", [])]
        parts = [p for p in parts if p is not None]
        return collect(parts) if parts else Geometry.empty(GEOMETRYCOLLECTION)
    return None


def parse_topojson_text(text: str, source: str,
                        layer: Optional[str] = None) -> List[tuple]:
    topo = json.loads(text)
    if topo.get("type") != "Topology":
        raise ValueError(f"{source}: not a TopoJSON Topology")
    arcs = _decode_arcs(topo)
    rows: List[tuple] = []
    for name, obj in (topo.get("objects") or {}).items():
        if layer is not None and name != layer:
            continue
        feats = (obj.get("geometries", [])
                 if obj.get("type") == "GeometryCollection" else [obj])
        for ft in feats:
            g = _geometry(topo, arcs, ft)
            props = ft.get("properties")
            rows.append((
                source, name,
                None if ft.get("id") is None else str(ft["id"]),
                None if props is None else json.dumps(props, sort_keys=True),
                None if g is None else to_wkb(g),
            ))
    return rows


def topojson_layers(path: str) -> List[str]:
    with open(path) as fh:
        topo = json.load(fh)
    return sorted((topo.get("objects") or {}).keys())


def topojson_scan(path: str, layer: Optional[str] = None) -> Scan:
    return Scan(
        TOPOJSON_SCHEMA,
        lambda p, data: parse_topojson_text(data.decode("utf-8"), p, layer),
        path=path, globs=("*.{topojson,json}",))


def st_read_topojson(
    spark: SparkSession,
    path: str,
    layer: Optional[str] = None,
    geom_col: str = "geom",
) -> DataFrame:
    return run(spark, topojson_scan(path, layer), geom_col)
