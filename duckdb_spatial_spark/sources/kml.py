"""Native KML source/sink — no GDAL.

KML is a public OGC spec (07-147r2): XML ``Placemark`` elements carrying
Point / LineString / Polygon / MultiGeometry with ``coordinates`` text of
``lon,lat[,alt]`` tuples. Python's stdlib ElementTree parses it, so the
engine reads the format natively (reference lists KML among the GDAL
drivers, st_read.cpp:612-641).

Layout: one task per file through the shared ``binaryFile`` scan
(sources/filescan.py) — KML is a single-document format, so intra-file
parallelism isn't available; each task emits (source_file, name,
description, geom WKB).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom.core import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    POINT,
    POLYGON,
    Geometry,
    collect,
)
from ..geom.wkb import from_wkb, to_wkb
from .filescan import Scan, run

_NS = "{http://www.opengis.net/kml/2.2}"

KML_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("geom", T.BinaryType()),
    ]
)


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _coords(text: str) -> np.ndarray:
    pts = []
    for tok in (text or "").split():
        parts = tok.split(",")
        if len(parts) >= 2:
            pts.append((float(parts[0]), float(parts[1])))
    return np.asarray(pts, dtype=np.float64)


def _parse_geom(el) -> Optional[Geometry]:
    kind = _local(el.tag)
    if kind == "Point":
        c = _coords(el.findtext("coordinates", default=""))
        if not len(c):
            return Geometry.empty(POINT)
        return Geometry.point(float(c[0, 0]), float(c[0, 1]))
    if kind == "LineString":
        c = _coords(el.findtext("coordinates", default=""))
        if len(c) < 2:
            return Geometry.empty(LINESTRING)
        return Geometry(LINESTRING, coords=c)
    if kind == "LinearRing":
        c = _coords(el.findtext("coordinates", default=""))
        if len(c) < 4:
            return None
        return Geometry(POLYGON, rings=[c])
    if kind == "Polygon":
        rings: List[np.ndarray] = []
        outer = el.find("outerBoundaryIs/LinearRing/coordinates")
        if outer is None or outer.text is None:
            return Geometry.empty(POLYGON)
        rings.append(_coords(outer.text))
        for inner in el.findall(
            "innerBoundaryIs/LinearRing/coordinates"
        ):
            rings.append(_coords(inner.text or ""))
        return Geometry(POLYGON, rings=rings)
    if kind == "MultiGeometry":
        parts = [g for g in (_parse_geom(c) for c in el) if g is not None]
        return collect(parts) if parts else Geometry.empty(GEOMETRYCOLLECTION)
    return None


_GEOM_TAGS = ("Point", "LineString", "Polygon", "MultiGeometry")


def parse_kml_bytes(data: bytes, source: str) -> List[tuple]:
    root = ET.fromstring(data)
    # normalize: strip any namespace so namespaced and bare KML both parse
    for el in root.iter():
        el.tag = _local(el.tag)
    rows = []
    for pm in root.iter("Placemark"):
        name = pm.findtext("name")
        desc = pm.findtext("description")
        geom = None
        for child in pm.iter():
            if _local(child.tag) in _GEOM_TAGS and child is not pm:
                geom = _parse_geom(child)
                break
        rows.append((source, name, desc, None if geom is None else to_wkb(geom)))
    return rows


def kml_scan(path: str) -> Scan:
    return Scan(KML_SCHEMA, lambda p, data: parse_kml_bytes(data, p),
                path=path, globs=("*.kml",))


def st_read_kml(spark: SparkSession, path: str, geom_col: str = "geom") -> DataFrame:
    return run(spark, kml_scan(path), geom_col)


# ------------------------------------------------------------------ sink

def _geom_to_kml(g: Geometry) -> str:
    def coord_str(arr) -> str:
        return " ".join(f"{float(p[0])!r},{float(p[1])!r}" for p in arr)

    if g.type_id == POINT:
        if g.is_empty():
            return "<Point><coordinates/></Point>"
        return (f"<Point><coordinates>{float(g.coords[0])!r},"
                f"{float(g.coords[1])!r}</coordinates></Point>")
    if g.type_id == LINESTRING:
        return f"<LineString><coordinates>{coord_str(g.coords)}</coordinates></LineString>"
    if g.type_id == POLYGON:
        parts = []
        for i, r in enumerate(g.rings or []):
            tag = "outerBoundaryIs" if i == 0 else "innerBoundaryIs"
            parts.append(
                f"<{tag}><LinearRing><coordinates>{coord_str(r)}"
                f"</coordinates></LinearRing></{tag}>"
            )
        return "<Polygon>" + "".join(parts) + "</Polygon>"
    # multi / collection
    inner = "".join(_geom_to_kml(p) for p in (g.parts or []))
    return "<MultiGeometry>" + inner + "</MultiGeometry>"


def st_write_kml(
    df: DataFrame,
    path: str,
    geom_col: str = "geom",
    name_col: Optional[str] = None,
    max_bytes: int = 1 << 30,
) -> None:
    """Single-writer KML sink (COPY … FORMAT GDAL 'x.kml' analog),
    byte-guarded like the shp/gpkg sinks."""
    est = df.agg(F.sum(F.length(F.col(geom_col))).alias("b")).collect()[0]["b"] or 0
    if est > max_bytes:
        raise ValueError(
            f"st_write_kml is a single-writer sink; payload ~{est >> 20} MiB "
            f"exceeds max_bytes={max_bytes >> 20} MiB"
        )
    rows = df.collect()
    attrs = [c for c in df.columns if c != geom_col]
    out = ['<?xml version="1.0" encoding="UTF-8"?>',
           '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>']
    from xml.sax.saxutils import escape

    for r in rows:
        out.append("<Placemark>")
        nm = r[name_col] if name_col else None
        if nm is not None:
            out.append(f"<name>{escape(str(nm))}</name>")
        desc = "; ".join(f"{c}={r[c]}" for c in attrs if c != name_col)
        if desc:
            out.append(f"<description>{escape(desc)}</description>")
        b = r[geom_col]
        if b is not None:
            out.append(_geom_to_kml(from_wkb(bytes(b))))
        out.append("</Placemark>")
    out.append("</Document></kml>")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("".join(out))
