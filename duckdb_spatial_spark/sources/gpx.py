"""Native GPX source/sink — no GDAL.

GPX (GPS Exchange Format, Topografix; public XSD at gpx/1/1) is among the
vector formats the reference reads through its GDAL binding
(st_read.cpp:612-641 enumerates drivers; OGR's GPX driver). The OGR layer
model is reproduced exactly: one GPX file exposes five layers —

    waypoints    <wpt>              → Point
    routes       <rte>              → LineString over <rtept>
    tracks       <trk>              → MultiLineString (one part per <trkseg>)
    route_points <rtept>            → Point + route_fid
    track_points <trkpt>            → Point + track_fid/seg/point ids

Files are parsed one task per file through the shared ``binaryFile`` scan
(sources/filescan.py) — GPX is a single-document format; elevation/time
attributes ride along as typed columns.
"""
from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom.core import LINESTRING, MULTILINESTRING, Geometry
from ..geom.wkb import from_wkb, to_wkb
from .filescan import Scan, run

GPX_LAYERS = ("waypoints", "routes", "tracks", "route_points", "track_points")

_SCHEMAS = {
    "waypoints": T.StructType([
        T.StructField("source_file", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("desc", T.StringType()),
        T.StructField("ele", T.DoubleType()),
        T.StructField("time", T.StringType()),
        T.StructField("geom", T.BinaryType()),
    ]),
    "routes": T.StructType([
        T.StructField("source_file", T.StringType()),
        T.StructField("route_fid", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("desc", T.StringType()),
        T.StructField("geom", T.BinaryType()),
    ]),
    "tracks": T.StructType([
        T.StructField("source_file", T.StringType()),
        T.StructField("track_fid", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("desc", T.StringType()),
        T.StructField("geom", T.BinaryType()),
    ]),
    "route_points": T.StructType([
        T.StructField("source_file", T.StringType()),
        T.StructField("route_fid", T.LongType()),
        T.StructField("route_point_id", T.LongType()),
        T.StructField("ele", T.DoubleType()),
        T.StructField("time", T.StringType()),
        T.StructField("geom", T.BinaryType()),
    ]),
    "track_points": T.StructType([
        T.StructField("source_file", T.StringType()),
        T.StructField("track_fid", T.LongType()),
        T.StructField("track_seg_id", T.LongType()),
        T.StructField("track_seg_point_id", T.LongType()),
        T.StructField("ele", T.DoubleType()),
        T.StructField("time", T.StringType()),
        T.StructField("geom", T.BinaryType()),
    ]),
}


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _pt_wkb(el) -> Optional[bytes]:
    try:
        lon = float(el.get("lon"))
        lat = float(el.get("lat"))
    except (TypeError, ValueError):
        return None
    return to_wkb(Geometry.point(lon, lat))


def _ele(el) -> Optional[float]:
    t = el.findtext("ele")
    try:
        return None if t is None else float(t)
    except ValueError:
        return None


def _line(pts) -> Optional[np.ndarray]:
    coords = []
    for p in pts:
        try:
            coords.append((float(p.get("lon")), float(p.get("lat"))))
        except (TypeError, ValueError):
            continue
    if len(coords) < 2:
        return None
    return np.asarray(coords, dtype=np.float64)


def parse_gpx_bytes(data: bytes, source: str, layer: str) -> List[tuple]:
    root = ET.fromstring(data)
    for el in root.iter():
        el.tag = _local(el.tag)
    rows: List[tuple] = []
    if layer == "waypoints":
        for w in root.iter("wpt"):
            rows.append((source, w.findtext("name"), w.findtext("desc"),
                         _ele(w), w.findtext("time"), _pt_wkb(w)))
    elif layer == "routes":
        for fid, r in enumerate(root.iter("rte")):
            c = _line(r.iter("rtept"))
            g = (Geometry(LINESTRING, coords=c) if c is not None
                 else Geometry.empty(LINESTRING))
            rows.append((source, fid, r.findtext("name"), r.findtext("desc"),
                         to_wkb(g)))
    elif layer == "tracks":
        for fid, trk in enumerate(root.iter("trk")):
            parts = []
            for seg in trk.iter("trkseg"):
                c = _line(seg.iter("trkpt"))
                if c is not None:
                    parts.append(Geometry(LINESTRING, coords=c))
            g = Geometry.collection(MULTILINESTRING, parts)
            rows.append((source, fid, trk.findtext("name"),
                         trk.findtext("desc"), to_wkb(g)))
    elif layer == "route_points":
        for fid, r in enumerate(root.iter("rte")):
            for pid, p in enumerate(r.iter("rtept")):
                rows.append((source, fid, pid, _ele(p), p.findtext("time"),
                             _pt_wkb(p)))
    elif layer == "track_points":
        for fid, trk in enumerate(root.iter("trk")):
            for sid, seg in enumerate(trk.iter("trkseg")):
                for pid, p in enumerate(seg.iter("trkpt")):
                    rows.append((source, fid, sid, pid, _ele(p),
                                 p.findtext("time"), _pt_wkb(p)))
    else:
        raise ValueError(f"unknown GPX layer {layer!r}; one of {GPX_LAYERS}")
    return rows


def gpx_scan(path: str, layer: str = "waypoints") -> Scan:
    if layer not in GPX_LAYERS:
        raise ValueError(f"unknown GPX layer {layer!r}; one of {GPX_LAYERS}")
    return Scan(_SCHEMAS[layer],
                lambda p, data: parse_gpx_bytes(data, p, layer),
                path=path, globs=("*.gpx",))


def st_read_gpx(
    spark: SparkSession,
    path: str,
    layer: str = "waypoints",
    geom_col: str = "geom",
) -> DataFrame:
    return run(spark, gpx_scan(path, layer), geom_col)


# ------------------------------------------------------------------ sink

def st_write_gpx(
    df: DataFrame,
    path: str,
    geom_col: str = "geom",
    name_col: Optional[str] = None,
    max_bytes: int = 1 << 30,
) -> None:
    """Single-writer GPX sink (COPY … 'x.gpx' analog; byte-guarded like
    the other single-file sinks). Points → <wpt>, LineStrings → <rte>,
    MultiLineStrings → <trk> with one <trkseg> per part."""
    est = df.agg(F.sum(F.length(F.col(geom_col))).alias("b")).collect()[0]["b"] or 0
    if est > max_bytes:
        raise ValueError(
            f"st_write_gpx is a single-writer sink; payload ~{est >> 20} MiB "
            f"exceeds max_bytes={max_bytes >> 20} MiB (write parquet instead)"
        )
    from xml.sax.saxutils import escape

    from ..geom.core import MULTILINESTRING as _ML
    from ..geom.core import POINT as _PT
    from ..geom.core import LINESTRING as _LS

    rows = df.collect()
    out = ['<?xml version="1.0" encoding="UTF-8"?>',
           '<gpx version="1.1" creator="duckdb_spatial_spark" '
           'xmlns="http://www.topografix.com/GPX/1/1">']

    def nm(r) -> str:
        if name_col is None or r[name_col] is None:
            return ""
        return f"<name>{escape(str(r[name_col]))}</name>"

    for r in rows:
        b = r[geom_col]
        if b is None:
            continue
        g = from_wkb(bytes(b))
        if g.type_id == _PT and not g.is_empty():
            out.append(f'<wpt lat="{float(g.coords[1])!r}" '
                       f'lon="{float(g.coords[0])!r}">{nm(r)}</wpt>')
        elif g.type_id == _LS:
            pts = "".join(f'<rtept lat="{float(p[1])!r}" lon="{float(p[0])!r}"/>'
                          for p in g.coords)
            out.append(f"<rte>{nm(r)}{pts}</rte>")
        elif g.type_id == _ML:
            segs = []
            for part in g.parts or []:
                pts = "".join(
                    f'<trkpt lat="{float(p[1])!r}" lon="{float(p[0])!r}"/>'
                    for p in part.coords)
                segs.append(f"<trkseg>{pts}</trkseg>")
            out.append(f"<trk>{nm(r)}{''.join(segs)}</trk>")
        else:
            raise ValueError(
                f"GPX stores points/lines only; got type_id={g.type_id} "
                "(write polygons to gpkg/shp/kml instead)")
    out.append("</gpx>")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("".join(out))
