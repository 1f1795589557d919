"""MapInfo Interchange Format (MIF/MID) source/sink — native text codec.

MIF/MID is MapInfo's documented text interchange form (the same GDAL
"MapInfo File" driver the reference uses also reads it,
``spatial/src/spatial/gdal/functions/st_read.cpp``). A dataset is a pair:

* ``x.mif`` — header (``VERSION``, ``DELIMITER``, ``COLUMNS n`` with
  ``name type`` rows) followed by one geometry block per feature:
  ``POINT x y``, ``LINE x1 y1 x2 y2``, ``PLINE [MULTIPLE n] npts`` +
  coordinate lines, ``REGION nrings`` + per-ring counts/coords, ``NONE``.
  Styling clauses (``SYMBOL``, ``PEN``, ``BRUSH``, ``SMOOTH``, ``CENTER``)
  are attached to the preceding object and skipped.
* ``x.mid`` — one delimited attribute row per feature.

The binary .TAB/.MAP form remains gated behind pyogrio (its .map block
layout is not re-implemented here).

Scan parallelism: files are independent tasks (like the KML/GML readers);
a single .mif pair is one task — MIF is an interchange format, not a
scale format, and the byte-guarded writer mirrors the shp/gpkg sinks.
"""

from __future__ import annotations

import glob
import os
from typing import List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom.core import (Geometry, LINESTRING, MULTILINESTRING, MULTIPOINT,
                         MULTIPOLYGON, POINT, POLYGON)
from ..geom.wkb import from_wkb, to_wkb
from .filescan import Scan, run

_TYPE_MAP = {
    "integer": T.IntegerType(),
    "smallint": T.IntegerType(),
    "float": T.DoubleType(),
    "decimal": T.DoubleType(),
    "char": T.StringType(),
    "date": T.StringType(),
    "logical": T.BooleanType(),
}

_STYLE_WORDS = {"symbol", "pen", "brush", "smooth", "center", "font"}


def parse_mif_header(lines: List[str]) -> Tuple[List[Tuple[str, str]], str, int]:
    """(columns [(name, miftype)], delimiter, index of the DATA line)."""
    cols: List[Tuple[str, str]] = []
    delim = "\t"
    i = 0
    while i < len(lines):
        w = lines[i].split()
        if not w:
            i += 1
            continue
        kw = w[0].lower()
        if kw == "delimiter":
            d = lines[i].split(None, 1)[1].strip()
            delim = d.strip('"')
        elif kw == "columns":
            n = int(w[1])
            for j in range(1, n + 1):
                cw = lines[i + j].split()
                cols.append((cw[0], cw[1].split("(")[0].lower()))
            i += n
        elif kw == "data":
            return cols, delim, i + 1
        i += 1
    raise ValueError("MIF: no DATA section")


def _read_coords(lines, i, n) -> Tuple[np.ndarray, int]:
    pts = np.empty((n, 2), dtype=np.float64)
    for k in range(n):
        w = lines[i + k].split()
        pts[k, 0], pts[k, 1] = float(w[0]), float(w[1])
    return pts, i + n


def parse_mif_geometries(lines: List[str], start: int) -> List[Optional[Geometry]]:
    geoms: List[Optional[Geometry]] = []
    i = start
    n = len(lines)
    while i < n:
        w = lines[i].split()
        if not w:
            i += 1
            continue
        kw = w[0].lower()
        if kw in _STYLE_WORDS:
            i += 1
            continue
        if kw == "none":
            geoms.append(None)
            i += 1
        elif kw == "point":
            geoms.append(Geometry.point(float(w[1]), float(w[2])))
            i += 1
        elif kw == "multipoint":
            cnt = int(w[1])
            pts, i = _read_coords(lines, i + 1, cnt)
            geoms.append(Geometry.collection(
                MULTIPOINT, [Geometry.point(x, y) for x, y in pts]))
        elif kw == "line":
            geoms.append(Geometry.linestring(
                np.array([[float(w[1]), float(w[2])],
                          [float(w[3]), float(w[4])]])))
            i += 1
        elif kw == "pline":
            if len(w) >= 3 and w[1].lower() == "multiple":
                nsec = int(w[2])
                i += 1
                parts = []
                for _ in range(nsec):
                    cnt = int(lines[i].split()[0])
                    pts, i2 = _read_coords(lines, i + 1, cnt)
                    parts.append(Geometry.linestring(pts))
                    i = i2
                geoms.append(parts[0] if len(parts) == 1
                             else Geometry.collection(MULTILINESTRING, parts))
            else:
                cnt = int(w[1])
                pts, i = _read_coords(lines, i + 1, cnt)
                geoms.append(Geometry.linestring(pts))
        elif kw == "region":
            nrings = int(w[1])
            i += 1
            rings = []
            for _ in range(nrings):
                cnt = int(lines[i].split()[0])
                pts, i = _read_coords(lines, i + 1, cnt)
                # MIF rings need not repeat the first vertex — close them
                if not np.array_equal(pts[0], pts[-1]):
                    pts = np.vstack([pts, pts[:1]])
                rings.append(pts)
            geoms.append(_assemble_region(rings))
        else:
            i += 1  # unknown clause (RECT/ARC/TEXT unsupported → skip line)
    return geoms


def _point_in_ring(x: float, y: float, ring: np.ndarray) -> bool:
    inside = False
    n = len(ring) - 1
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        if (y1 > y) != (y2 > y):
            xi = x1 + (y - y1) / (y2 - y1) * (x2 - x1)
            if xi > x:
                inside = not inside
    return inside


def _assemble_region(rings: List[np.ndarray]) -> Geometry:
    """MapInfo REGION semantics: holes are determined by geometric
    containment (a ring inside an earlier shell is its hole), not by the
    shapefile winding rule."""
    shells: List[List[np.ndarray]] = []
    for ring in rings:
        if len(ring) < 4:
            continue
        placed = False
        cx, cy = ring[:-1].mean(axis=0)
        for grp in shells:
            if _point_in_ring(float(cx), float(cy), grp[0]):
                grp.append(ring)
                placed = True
                break
        if not placed:
            shells.append([ring])
    polys = [Geometry(POLYGON, rings=g) for g in shells]
    if len(polys) == 1:
        return polys[0]
    return Geometry.collection(MULTIPOLYGON, polys)


def _split_mid(line: str, delim: str) -> List[str]:
    """Quote-aware MID row split (Char fields are double-quoted and may
    contain the delimiter)."""
    out, cur, in_q = [], [], False
    for ch in line:
        if ch == '"':
            in_q = not in_q
            cur.append(ch)
        elif ch == delim and not in_q:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


def _coerce(val: str, miftype: str):
    val = val.strip().strip('"')
    if val == "":
        return None
    if miftype in ("integer", "smallint"):
        return int(val)
    if miftype in ("float", "decimal"):
        return float(val)
    if miftype == "logical":
        return val.upper() in ("T", "TRUE", "1")
    return val


def read_mif_pair(mif_path: str) -> Tuple[T.StructType, List[tuple]]:
    """Session-free decode of one .mif/.mid pair → (schema, rows)."""
    with open(mif_path) as fh:
        mif_lines = fh.read().splitlines()
    cols, delim, data_at = parse_mif_header(mif_lines)
    geoms = parse_mif_geometries(mif_lines, data_at)
    mid_path = os.path.splitext(mif_path)[0] + ".mid"
    if not os.path.exists(mid_path):
        mid_path = os.path.splitext(mif_path)[0] + ".MID"
    rows: List[tuple] = []
    if cols and os.path.exists(mid_path):
        with open(mid_path) as fh:
            mid_lines = [ln for ln in fh.read().splitlines() if ln != ""]
        for k, g in enumerate(geoms):
            attrs = ()
            if k < len(mid_lines):
                vals = _split_mid(mid_lines[k], delim)
                attrs = tuple(
                    _coerce(v, t) for v, (_, t) in zip(vals, cols))
                attrs += (None,) * (len(cols) - len(attrs))
            else:
                attrs = (None,) * len(cols)
            rows.append(attrs + (None if g is None else to_wkb(g),))
    else:
        rows = [(None if g is None else to_wkb(g),) for g in geoms]
    fields = [T.StructField(nm, _TYPE_MAP.get(t, T.StringType()))
              for nm, t in cols]
    fields.append(T.StructField("geom", T.BinaryType()))
    return T.StructType(fields), rows


def mif_scan(path: str, geom_col: str = "geom") -> Scan:
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.mif")))
    else:
        files = sorted(glob.glob(path)) if any(c in path for c in "*?[") \
            else [path]
    if not files:
        raise FileNotFoundError(path)
    schema, _ = read_mif_pair(files[0])
    if geom_col != "geom":
        schema = T.StructType(
            [T.StructField(geom_col if f.name == "geom" else f.name,
                           f.dataType) for f in schema.fields])
    return Scan(schema, lambda p: read_mif_pair(p)[1],
                ranges=[(f,) for f in files], ddl="path string")


def st_read_mif(spark: SparkSession, path: str,
                geom_col: str = "geom") -> DataFrame:
    """Distributed MIF/MID read: one task per .mif file."""
    return run(spark, mif_scan(path, geom_col))


_MAX_SINK_BYTES = 1 << 30


def _geom_to_mif(g: Geometry) -> List[str]:
    t = g.type_id
    if t == POINT:
        return [f"POINT {g.coords[0]:.10g} {g.coords[1]:.10g}"]
    if t == MULTIPOINT:
        out = [f"MULTIPOINT {len(g.parts)}"]
        out += [f"{p.coords[0]:.10g} {p.coords[1]:.10g}" for p in g.parts]
        return out
    if t in (LINESTRING, MULTILINESTRING):
        parts = [g.coords] if t == LINESTRING else [p.coords for p in g.parts]
        if len(parts) == 1:
            out = [f"PLINE {len(parts[0])}"]
        else:
            out = [f"PLINE MULTIPLE {len(parts)}"]
        for p in parts:
            if len(parts) > 1:
                out.append(str(len(p)))
            out += [f"{x:.10g} {y:.10g}" for x, y in p[:, :2]]
        return out
    if t in (POLYGON, MULTIPOLYGON):
        rings = ([r for r in g.rings] if t == POLYGON
                 else [r for pg in g.parts for r in pg.rings])
        out = [f"REGION {len(rings)}"]
        for r in rings:
            out.append(str(len(r)))
            out += [f"{x:.10g} {y:.10g}" for x, y in r[:, :2]]
        return out
    raise NotImplementedError(f"MIF writer: {g.type_name()}")


def st_write_mif(df: DataFrame, path: str, geom_col: str = "geom") -> None:
    """Write a .mif/.mid pair (single-writer text interchange format,
    byte-guarded like the shp/gpkg sinks). The guard runs BEFORE the
    collect — one distributed aggregate over the WKB column — so an
    over-budget frame raises without ever materializing rows on the
    driver."""
    est_row = df.agg(
        F.sum(F.length(F.col(geom_col)) * 4 + 64).alias("b")
    ).collect()[0]["b"] or 0
    if est_row > _MAX_SINK_BYTES:
        raise ValueError(
            f"st_write_mif: ~{est_row >> 20} MiB exceeds the single-writer "
            "guard (1 GiB); write parquet for datasets this size")
    rows = df.collect()
    base = os.path.splitext(path)[0]
    attr_fields = [f for f in df.schema.fields if f.name != geom_col]

    def mif_type(f):
        if isinstance(f.dataType, (T.ShortType, T.IntegerType, T.LongType)):
            return "Integer"
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            return "Float"
        if isinstance(f.dataType, T.BooleanType):
            return "Logical"
        return "Char(254)"

    lines = ["VERSION 300", 'DELIMITER ","',
             f"COLUMNS {len(attr_fields)}"]
    lines += [f"  {f.name} {mif_type(f)}" for f in attr_fields]
    lines.append("DATA")
    mid = []
    for r in rows:
        b = r[geom_col]
        if b is None:
            lines.append("NONE")
        else:
            lines += _geom_to_mif(from_wkb(bytes(b)))
        vals = []
        for f in attr_fields:
            v = r[f.name]
            if v is None:
                vals.append("")
            elif isinstance(f.dataType, T.StringType):
                vals.append('"' + str(v).replace('"', "'") + '"')
            elif isinstance(f.dataType, T.BooleanType):
                vals.append("T" if v else "F")
            else:
                vals.append(str(v))
        mid.append(",".join(vals))
    with open(base + ".mif", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(base + ".mid", "w") as fh:
        fh.write("\n".join(mid) + "\n")
