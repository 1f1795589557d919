"""Native GML source — stdlib ElementTree, no GDAL.

GML (OGC 07-036, public) encodes features as ``featureMember`` elements
whose geometry children use either GML2 ``<gml:coordinates>`` ("x,y x,y")
or GML3 ``<gml:posList>``/``<gml:pos>`` ("x y x y") text. This reader
covers Point / LineString / Polygon (outer+inner boundaries or GML3
exterior/interior) / MultiPoint / MultiLineString / MultiCurve /
MultiPolygon / MultiSurface, namespace-agnostically; non-geometry child
elements of each feature become string property columns.

Layout mirrors the KML reader: one task per file through the shared
``binaryFile`` scan (sources/filescan.py) — GML is a single-document
format. The property columns are bound from the first file by path."""

from __future__ import annotations

import xml.etree.ElementTree as ET
from pathlib import Path
from typing import List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..geom.core import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geometry,
    collect,
)
from ..geom.wkb import to_wkb
from .filescan import Scan, binary_files, local_files, run

_GEOM_TAGS = {
    "Point", "LineString", "Polygon", "Curve", "Surface",
    "MultiPoint", "MultiLineString", "MultiCurve",
    "MultiPolygon", "MultiSurface", "MultiGeometry",
}


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _coords_text(el) -> Optional[np.ndarray]:
    """Coordinates from a geometry element's GML2 <coordinates> (x,y pairs
    separated by whitespace) or GML3 <posList>/<pos> (flat x y list)."""
    for child in el:
        name = _local(child.tag)
        if name == "coordinates" and child.text:
            pts = []
            for tok in child.text.split():
                parts = tok.split(",")
                if len(parts) >= 2:
                    pts.append((float(parts[0]), float(parts[1])))
            return np.asarray(pts, dtype=np.float64)
        if name in ("posList", "pos") and child.text:
            vals = [float(v) for v in child.text.split()]
            return np.asarray(vals, dtype=np.float64).reshape(-1, 2)
    return None


def _ring_coords(boundary_el) -> Optional[np.ndarray]:
    for ring in boundary_el.iter():
        if _local(ring.tag) == "LinearRing":
            return _coords_text(ring)
    return None


def _parse_geom(el) -> Optional[Geometry]:
    kind = _local(el.tag)
    if kind == "Point":
        c = _coords_text(el)
        if c is None or not len(c):
            return Geometry.empty(POINT)
        return Geometry.point(float(c[0, 0]), float(c[0, 1]))
    if kind in ("LineString", "Curve"):
        if kind == "Curve":  # GML3 curve → its segments' posLists
            for seg in el.iter():
                if _local(seg.tag) == "LineStringSegment":
                    c = _coords_text(seg)
                    if c is not None:
                        return Geometry(LINESTRING, coords=c)
        c = _coords_text(el)
        if c is None or len(c) < 2:
            return Geometry.empty(LINESTRING)
        return Geometry(LINESTRING, coords=c)
    if kind in ("Polygon", "Surface"):
        rings: List[np.ndarray] = []
        for child in el.iter():
            name = _local(child.tag)
            if name in ("outerBoundaryIs", "exterior"):
                r = _ring_coords(child)
                if r is not None:
                    rings.insert(0, r)
            elif name in ("innerBoundaryIs", "interior"):
                r = _ring_coords(child)
                if r is not None:
                    rings.append(r)
        if not rings:
            return Geometry.empty(POLYGON)
        return Geometry(POLYGON, rings=rings)
    if kind in ("MultiPoint", "MultiLineString", "MultiCurve",
                "MultiPolygon", "MultiSurface", "MultiGeometry"):
        parts = []
        for member in el:
            for sub in member:
                if _local(sub.tag) in _GEOM_TAGS:
                    g = _parse_geom(sub)
                    if g is not None:
                        parts.append(g)
        target = {
            "MultiPoint": MULTIPOINT,
            "MultiLineString": MULTILINESTRING,
            "MultiCurve": MULTILINESTRING,
            "MultiPolygon": MULTIPOLYGON,
            "MultiSurface": MULTIPOLYGON,
            "MultiGeometry": GEOMETRYCOLLECTION,
        }[kind]
        if not parts:
            return Geometry.empty(target)
        return collect(parts)
    return None


def parse_gml_bytes(data: bytes, source: str) -> Tuple[List[dict], List[str]]:
    """(features, property_names): each feature is {props..., 'geom': wkb}."""
    root = ET.fromstring(data)
    feats: List[dict] = []
    prop_names: List[str] = []
    for member in root.iter():
        if _local(member.tag) not in ("featureMember", "member", "featureMembers"):
            continue
        for feature in member:
            row = {"__source": source, "geom": None}
            for child in feature:
                name = _local(child.tag)
                if name in _GEOM_TAGS:
                    g = _parse_geom(child)
                    row["geom"] = None if g is None else to_wkb(g)
                    continue
                sub_geom = None
                for sub in child:
                    if _local(sub.tag) in _GEOM_TAGS:
                        sub_geom = sub
                        break
                if sub_geom is not None:  # wrapped geometry property
                    g = _parse_geom(sub_geom)
                    row["geom"] = None if g is None else to_wkb(g)
                else:
                    if name not in prop_names:
                        prop_names.append(name)
                    row[name] = None if child.text is None else child.text.strip()
            feats.append(row)
    return feats, prop_names


def gml_scan(path: str, props: Optional[List[str]] = None) -> Scan:
    """The GML read of ``path``. ``props`` are the property columns; when
    not given, the first local file by path binds them."""
    if props is None:
        files = local_files(path, ("*.gml",))
        props = (parse_gml_bytes(Path(files[0]).read_bytes(), path)[1]
                 if files else [])
    schema = T.StructType(
        [T.StructField("source_file", T.StringType())]
        + [T.StructField(p, T.StringType()) for p in props]
        + [T.StructField("geom", T.BinaryType())])

    def parse(p: str, data: bytes) -> List[tuple]:
        return [tuple([p] + [f.get(c) for c in props] + [f["geom"]])
                for f in parse_gml_bytes(data, p)[0]]

    return Scan(schema, parse, path=path, globs=("*.gml",))


def st_read_gml(spark: SparkSession, path: str, geom_col: str = "geom") -> DataFrame:
    # bind: the first file by path decides the property columns
    first = (binary_files(spark, path, "*.gml").orderBy("path")
             .select("content").limit(1).collect())
    scan = gml_scan(path, parse_gml_bytes(bytes(first[0][0]), path)[1]
                    if first else [])
    return run(spark, scan, geom_col)
