"""Mapbox Vector Tile (MVT 2.1) source/sink — hand-rolled protobuf wire
decode, no GDAL.

Reference parity: the reference reads MVT through GDAL's MVT driver
(docs/internals.md driver table); spec semantics here follow the public
vector-tile-spec 2.1 (github.com/mapbox/vector-tile-spec): a Tile is a
sequence of Layers (field 3); a Layer carries name(1) / features(2) /
keys(3) / values(4) / extent(5) / version(15); a Feature carries id(1) /
packed key-value tag indexes(2) / GeomType(3) / packed geometry
commands(4). Geometry commands are (id | count<<3) with id 1=MoveTo,
2=LineTo, 7=ClosePath and zigzag-encoded cumulative integer deltas in
tile-local coordinates (y grows DOWN).

Coordinates are returned tile-local (0..extent doubles) by default;
pass ``tile=(z, x, y)`` to georeference into WGS84 lon/lat via the
standard web-mercator tiling.

Scale shape: one task per tile file through the shared ``binaryFile``
scan (sources/filescan.py — the geojson/kml reader shape). Wire helpers
are shared with the OSM-PBF reader (geom/pbf.py).
"""

from __future__ import annotations

import gzip
import math
import struct
from typing import Dict, List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..geom.core import (Geometry, LINESTRING, MULTILINESTRING, MULTIPOINT,
                         MULTIPOLYGON, POINT, POLYGON)
from ..geom.pbf import _enc_field, _enc_varint, _fields, _packed_varints
from ..geom.wkb import from_wkb, to_wkb
from .filescan import Scan, run

__all__ = ["decode_mvt", "encode_mvt_tile", "st_read_mvt", "st_write_mvt"]


# ------------------------------------------------------------------ decode

def _decode_value(buf: bytes):
    """Layer Value message: exactly one of string(1)/float(2)/double(3)/
    int(4)/uint(5)/sint(6)/bool(7)."""
    for fno, _wt, v in _fields(buf):
        if fno == 1:
            return v.decode("utf-8", "replace")
        if fno == 2:
            return struct.unpack("<f", struct.pack("<I", v & 0xFFFFFFFF))[0] \
                if isinstance(v, int) else v
        if fno == 3:
            return v if isinstance(v, float) else \
                struct.unpack("<d", struct.pack("<q", v))[0]
        if fno == 4:
            # int_value is a signed int64 carried as a plain varint: the
            # encoder two's-complements negatives into the 64-bit space.
            v = int(v)
            return v - (1 << 64) if v >= (1 << 63) else v
        if fno == 5:
            return int(v)
        if fno == 6:
            return (v >> 1) ^ -(v & 1)
        if fno == 7:
            return bool(v)
    return None


def _ring_signed_area2(pts: List[Tuple[float, float]]) -> float:
    """Twice the surveyor's-formula area over the raw tile coords — per
    spec 4.3.3.3 positive = exterior ring, negative = interior (no axis
    flip: with y-down coordinates a screen-clockwise exterior ring comes
    out positive under the plain formula)."""
    s = 0.0
    n = len(pts)
    for i in range(n):
        x0, y0 = pts[i]
        x1, y1 = pts[(i + 1) % n]
        s += x0 * y1 - x1 * y0
    return s


def _decode_geometry(gtype: int, cmds: List[int]) -> Optional[Geometry]:
    cx = cy = 0
    i = 0
    parts: List[List[Tuple[float, float]]] = []
    cur: List[Tuple[float, float]] = []
    closed: List[bool] = []
    while i < len(cmds):
        cmd = cmds[i]
        i += 1
        cid, count = cmd & 0x7, cmd >> 3
        if cid == 1:  # MoveTo
            for _ in range(count):
                dx, dy = cmds[i], cmds[i + 1]
                i += 2
                cx += (dx >> 1) ^ -(dx & 1)
                cy += (dy >> 1) ^ -(dy & 1)
                if cur:
                    parts.append(cur)
                    closed.append(False)
                cur = [(float(cx), float(cy))]
        elif cid == 2:  # LineTo
            for _ in range(count):
                dx, dy = cmds[i], cmds[i + 1]
                i += 2
                cx += (dx >> 1) ^ -(dx & 1)
                cy += (dy >> 1) ^ -(dy & 1)
                cur.append((float(cx), float(cy)))
        elif cid == 7:  # ClosePath
            if cur:
                parts.append(cur)
                closed.append(True)
                cur = []
        else:
            raise ValueError(f"mvt: unknown geometry command id {cid}")
    if cur:
        parts.append(cur)
        closed.append(False)

    if gtype == 1:  # POINT
        pts = [p for part in parts for p in part]
        if not pts:
            return None
        if len(pts) == 1:
            return Geometry.point(pts[0][0], pts[0][1])
        return Geometry(MULTIPOINT, parts=[
            Geometry.point(x, y) for x, y in pts])
    if gtype == 2:  # LINESTRING
        lines = [np.asarray(p, dtype=np.float64) for p in parts
                 if len(p) >= 2]
        if not lines:
            return None
        if len(lines) == 1:
            return Geometry(LINESTRING, coords=lines[0])
        return Geometry(MULTILINESTRING, parts=[
            Geometry(LINESTRING, coords=c) for c in lines])
    if gtype == 3:  # POLYGON
        polys: List[List[np.ndarray]] = []
        for ring in parts:
            if len(ring) < 3:
                continue
            arr = np.asarray(ring + [ring[0]], dtype=np.float64)
            if _ring_signed_area2(ring) >= 0:  # exterior starts a polygon
                polys.append([arr])
            elif polys:  # interior ring attaches to the last polygon
                polys[-1].append(arr)
        if not polys:
            return None
        if len(polys) == 1:
            return Geometry(POLYGON, rings=polys[0])
        return Geometry(MULTIPOLYGON, parts=[
            Geometry(POLYGON, rings=r) for r in polys])
    return None


def decode_mvt(
    data: bytes,
    layer: Optional[str] = None,
    tile: Optional[Tuple[int, int, int]] = None,
) -> List[tuple]:
    """Decode one tile → rows (layer, fid, geom_wkb, properties, extent).
    ``tile=(z, x, y)`` georeferences tile coords to WGS84 lon/lat."""
    rows: List[tuple] = []
    for fno, _wt, lbuf in _fields(data):
        if fno != 3:
            continue
        name, extent, version = "", 4096, 1
        keys: List[str] = []
        values: List[object] = []
        feats: List[bytes] = []
        for lf, _lwt, lv in _fields(lbuf):
            if lf == 1:
                name = lv.decode("utf-8", "replace")
            elif lf == 2:
                feats.append(lv)
            elif lf == 3:
                keys.append(lv.decode("utf-8", "replace"))
            elif lf == 4:
                values.append(_decode_value(lv))
            elif lf == 5:
                extent = int(lv)
            elif lf == 15:
                version = int(lv)
        if version not in (1, 2):
            raise NotImplementedError(f"mvt: layer version {version}")
        if layer is not None and name != layer:
            continue

        def _georef(g: Geometry) -> Geometry:
            if tile is None:
                return g
            z, tx, ty = tile
            n = float(1 << z)

            def conv(arr: np.ndarray) -> np.ndarray:
                out = np.array(arr, dtype=np.float64)
                fx = (tx + out[..., 0] / extent) / n
                fy = (ty + out[..., 1] / extent) / n
                out[..., 0] = fx * 360.0 - 180.0
                out[..., 1] = np.degrees(
                    np.arctan(np.sinh(math.pi * (1.0 - 2.0 * fy))))
                return out

            if g.coords is not None:
                g.coords = conv(g.coords)
            if g.rings is not None:
                g.rings = [conv(r) for r in g.rings]
            if g.parts is not None:
                g.parts = [_georef(p) for p in g.parts]
            return g

        for fbuf in feats:
            fid = None
            gtype = 0
            tags: List[int] = []
            cmds: List[int] = []
            for ff, _fwt, fv in _fields(fbuf):
                if ff == 1:
                    fid = int(fv)
                elif ff == 2:
                    tags = _packed_varints(fv)
                elif ff == 3:
                    gtype = int(fv)
                elif ff == 4:
                    cmds = _packed_varints(fv)
            g = _decode_geometry(gtype, cmds)
            props: Dict[str, str] = {}
            for ki, vi in zip(tags[0::2], tags[1::2]):
                if ki < len(keys) and vi < len(values):
                    v = values[vi]
                    props[keys[ki]] = "" if v is None else str(v)
            rows.append((
                name, fid,
                bytes(to_wkb(_georef(g))) if g is not None else None,
                props, extent,
            ))
    return rows


# ------------------------------------------------------------------ encode

def _enc_value(v) -> bytes:
    if isinstance(v, bool):
        return bytes([7 << 3, 1 if v else 0])
    if isinstance(v, int):
        return bytes([4 << 3]) + _enc_varint(v if v >= 0 else (1 << 64) + v)
    if isinstance(v, float):
        return bytes([(3 << 3) | 1]) + struct.pack("<d", v)
    return _enc_field(1, str(v).encode("utf-8"))


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _enc_geometry(g: Geometry) -> Tuple[int, List[int]]:
    def enc_path(pts, close: bool, out: List[int], pos: List[int]):
        out.append((1) | (1 << 3))  # MoveTo ×1
        x, y = int(round(pts[0][0])), int(round(pts[0][1]))
        out += [_zz(x - pos[0]), _zz(y - pos[1])]
        pos[0], pos[1] = x, y
        rest = pts[1:]
        if close and len(rest) and tuple(rest[-1]) == tuple(pts[0]):
            rest = rest[:-1]  # ClosePath implies the closing segment
        if rest:
            out.append((2) | (len(rest) << 3))  # LineTo ×n
            for px, py in rest:
                x, y = int(round(px)), int(round(py))
                out += [_zz(x - pos[0]), _zz(y - pos[1])]
                pos[0], pos[1] = x, y
        if close:
            out.append(7 | (1 << 3))

    pos = [0, 0]
    out: List[int] = []
    t = g.type_id
    if t == POINT:
        out.append(1 | (1 << 3))
        x, y = int(round(g.coords[0])), int(round(g.coords[1]))
        out += [_zz(x), _zz(y)]
        return 1, out
    if t == MULTIPOINT:
        out.append(1 | (len(g.parts) << 3))
        for p in g.parts:
            x, y = int(round(p.coords[0])), int(round(p.coords[1]))
            out += [_zz(x - pos[0]), _zz(y - pos[1])]
            pos[0], pos[1] = x, y
        return 1, out
    if t == LINESTRING:
        enc_path([(c[0], c[1]) for c in g.coords], False, out, pos)
        return 2, out
    if t == MULTILINESTRING:
        for p in g.parts:
            enc_path([(c[0], c[1]) for c in p.coords], False, out, pos)
        return 2, out
    if t in (POLYGON, MULTIPOLYGON):
        polys = [g] if t == POLYGON else list(g.parts)
        for pg in polys:
            for ri, ring in enumerate(pg.rings):
                pts = [(c[0], c[1]) for c in ring]
                # spec winding: exterior positive (CW on y-down screen)
                want_pos = ri == 0
                if (_ring_signed_area2(pts[:-1]) >= 0) != want_pos:
                    pts = pts[::-1]
                enc_path(pts, True, out, pos)
        return 3, out
    raise NotImplementedError(
        f"mvt encoder: geometry type {g.type_name if hasattr(g, 'type_name') else t}")


def encode_mvt_tile(
    layers: Dict[str, List[tuple]], extent: int = 4096
) -> bytes:
    """Encode {layer_name: [(fid, wkb, props_dict), ...]} into one tile."""
    tile = b""
    for name, feats in layers.items():
        keys: List[str] = []
        values: List[object] = []
        kidx: Dict[str, int] = {}
        vidx: Dict[object, int] = {}
        fbufs = []
        for fid, wkb, props in feats:
            g = from_wkb(bytes(wkb))
            gtype, cmds = _enc_geometry(g)
            tags: List[int] = []
            for k, v in (props or {}).items():
                if k not in kidx:
                    kidx[k] = len(keys)
                    keys.append(k)
                vk = (type(v).__name__, v)
                if vk not in vidx:
                    vidx[vk] = len(values)
                    values.append(v)
                tags += [kidx[k], vidx[vk]]
            f = b""
            if fid is not None:
                f += bytes([1 << 3]) + _enc_varint(int(fid))
            if tags:
                f += _enc_field(2, b"".join(_enc_varint(t) for t in tags))
            f += bytes([3 << 3]) + _enc_varint(gtype)
            f += _enc_field(4, b"".join(_enc_varint(c) for c in cmds))
            fbufs.append(f)
        lbuf = _enc_field(1, name.encode("utf-8"))
        for f in fbufs:
            lbuf += _enc_field(2, f)
        for k in keys:
            lbuf += _enc_field(3, k.encode("utf-8"))
        for v in values:
            lbuf += _enc_field(4, _enc_value(v))
        lbuf += bytes([5 << 3]) + _enc_varint(extent)
        lbuf += bytes([15 << 3]) + _enc_varint(2)
        tile += _enc_field(3, lbuf)
    return tile


# ------------------------------------------------------------------ spark

MVT_SCHEMA = T.StructType([
    T.StructField("layer", T.StringType()),
    T.StructField("fid", T.LongType()),
    T.StructField("geom", T.BinaryType()),
    T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
    T.StructField("extent", T.IntegerType()),
    T.StructField("source_file", T.StringType()),
])


def mvt_scan(path: str, layer: Optional[str] = None,
             tile: Optional[Tuple[int, int, int]] = None) -> Scan:
    def parse(p: str, data: bytes) -> List[tuple]:
        if data[:2] == b"\x1f\x8b":  # tiles are often gzipped
            data = gzip.decompress(data)
        return [row + (p,) for row in decode_mvt(data, layer=layer, tile=tile)]

    return Scan(MVT_SCHEMA, parse, path=path, globs=("*.{mvt,vector.pbf}",),
                recursive=True)


def st_read_mvt(
    spark: SparkSession,
    path: str,
    layer: Optional[str] = None,
    geom_col: str = "geom",
    tile: Optional[Tuple[int, int, int]] = None,
) -> DataFrame:
    """Distributed MVT scan: each task decodes its own tiles (a directory
    is scanned recursively for ``*.mvt`` / ``*.vector.pbf``).
    ``tile=(z,x,y)`` applies to every file (single georeferenced tile
    read); directory scans of a z/x/y pyramid pass tile=None and keep
    tile-local coordinates plus the source_file path (which carries z/x/y
    for downstream georeferencing)."""
    return run(spark, mvt_scan(path, layer, tile), geom_col)


_MAX_SINK_BYTES = 1 << 30


def st_write_mvt(df: DataFrame, path: str, layer: str = "layer",
                 geom_col: str = "geom", extent: int = 4096) -> None:
    """Single-tile sink (one .mvt file, one layer): integer tile coords,
    attribute columns become properties. Byte-guarded BEFORE the collect
    like the other single-writer sinks."""
    from pyspark.sql import functions as F

    est = df.agg(
        F.sum(F.length(F.col(geom_col)) + 64).alias("b")
    ).collect()[0]["b"] or 0
    if est > _MAX_SINK_BYTES:
        raise ValueError(
            f"st_write_mvt: ~{est >> 20} MiB exceeds the single-writer "
            "guard (1 GiB); MVT is a per-tile format — partition first")
    rows = df.collect()
    attrs = [c for c in df.columns if c != geom_col]
    feats = []
    for i, r in enumerate(rows):
        if r[geom_col] is None:
            continue
        props = {c: r[c] for c in attrs if r[c] is not None}
        feats.append((i + 1, bytes(r[geom_col]), props))
    data = encode_mvt_tile({layer: feats}, extent=extent)
    with open(path, "wb") as fh:
        fh.write(data)
