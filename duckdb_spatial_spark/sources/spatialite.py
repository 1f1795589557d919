"""Native SpatiaLite source/sink — stdlib sqlite3, no GDAL/mod_spatialite.

SpatiaLite is the other sqlite-based vector container the reference reads
through GDAL (OGR 'SQLite' driver; st_read.cpp:612-641). Its geometry BLOB
format is publicly specified (spatialite-sql docs, "BLOB-Geometry format"):

    00 | endian (01 LE / 00 BE) | int32 srid | 4 x f64 MBR | 7C |
    int32 class | payload | FE

with class = base (1..7 point..collection) + 1000*Z + 2000*M (+3000 ZM;
+1000000 marks the compressed float32-delta variant, which raises a clear
gate here), and payload = raw count/coordinate words in the blob's single
declared endianness; multi/collection entities are each prefixed by a 69
marker + their own int32 class.

The scan reuses the GeoPackage shape: driver binds layers from
``geometry_columns`` + the table's rowid span, executors read only their
rowid range through read-only sqlite connections, and the SpatiaLite
``idx_<table>_<geom>`` R*Tree prefilters bbox pushdown when present.
Geometries convert blob→ISO WKB with zero re-projection of coordinates.
"""
from __future__ import annotations

import os
import sqlite3
import struct
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom.wkb import from_wkb
from .filescan import Scan, run
from .gpkg import _connect_ro, _spark_type

_MARK_START, _MARK_MBR, _MARK_ENTITY, _MARK_END = 0x00, 0x7C, 0x69, 0xFE


def _dims(cls: int) -> Tuple[int, int, int]:
    """(base, ndims, iso_offset) for a SpatiaLite class code."""
    if cls >= 1000000:
        raise NotImplementedError(
            "compressed SpatiaLite geometries (class >= 1000000) are not "
            "supported; store uncompressed or convert via parquet")
    flag = cls // 1000
    base = cls % 1000
    nd = {0: 2, 1: 3, 2: 3, 3: 4}[flag]
    return base, nd, flag * 1000


def _payload_to_wkb(buf: bytes, off: int, cls: int, e: str) -> Tuple[bytes, int]:
    """Convert one geometry payload at ``off`` to little-endian ISO WKB."""
    base, nd, iso = _dims(cls)
    out = bytearray(b"\x01" + struct.pack("<I", base + iso))
    if base == 1:  # point
        vals = struct.unpack_from(e + "d" * nd, buf, off)
        off += 8 * nd
        out += struct.pack("<" + "d" * nd, *vals)
    elif base == 2:  # linestring
        (n,) = struct.unpack_from(e + "i", buf, off)
        off += 4
        out += struct.pack("<I", n)
        vals = struct.unpack_from(e + "d" * (n * nd), buf, off)
        off += 8 * n * nd
        out += struct.pack("<" + "d" * (n * nd), *vals)
    elif base == 3:  # polygon
        (nr,) = struct.unpack_from(e + "i", buf, off)
        off += 4
        out += struct.pack("<I", nr)
        for _ in range(nr):
            (n,) = struct.unpack_from(e + "i", buf, off)
            off += 4
            out += struct.pack("<I", n)
            vals = struct.unpack_from(e + "d" * (n * nd), buf, off)
            off += 8 * n * nd
            out += struct.pack("<" + "d" * (n * nd), *vals)
    elif base in (4, 5, 6, 7):  # multi / collection
        (n,) = struct.unpack_from(e + "i", buf, off)
        off += 4
        out += struct.pack("<I", n)
        for _ in range(n):
            if buf[off] != _MARK_ENTITY:
                raise ValueError("SpatiaLite blob: missing entity marker 0x69")
            off += 1
            (ecls,) = struct.unpack_from(e + "i", buf, off)
            off += 4
            sub, off = _payload_to_wkb(buf, off, ecls, e)
            out += sub
    else:
        raise ValueError(f"SpatiaLite blob: unknown class {cls}")
    return bytes(out), off


def spatialite_blob_to_wkb(blob: Optional[bytes]) -> Optional[bytes]:
    if blob is None:
        return None
    b = bytes(blob)
    if len(b) < 44 or b[0] != _MARK_START or b[38] != _MARK_MBR:
        raise ValueError("not a SpatiaLite geometry blob")
    e = "<" if b[1] == 0x01 else ">"
    (cls,) = struct.unpack_from(e + "i", b, 39)
    wkb, off = _payload_to_wkb(b, 43, cls, e)
    if off >= len(b) or b[off] != _MARK_END:
        raise ValueError("SpatiaLite blob: missing end marker 0xFE")
    return wkb


def _geom_payload(g) -> Tuple[int, bytes]:
    """(class, payload) of one of our Geometry objects, little-endian,
    2-D (the coordinate model of this engine's kernels)."""
    from ..geom import core as C

    t = g.type_id
    if t == C.POINT:
        if g.is_empty():
            # SpatiaLite has no empty point; NaN pair is the convention
            return 1, struct.pack("<2d", float("nan"), float("nan"))
        return 1, struct.pack("<2d", float(g.coords[0]), float(g.coords[1]))
    if t == C.LINESTRING:
        c = g.coords
        return 2, struct.pack("<i", len(c)) + struct.pack(
            "<" + "d" * (2 * len(c)), *[float(v) for xy in c for v in xy])
    if t == C.POLYGON:
        rings = g.rings or []
        out = struct.pack("<i", len(rings))
        for r in rings:
            out += struct.pack("<i", len(r)) + struct.pack(
                "<" + "d" * (2 * len(r)), *[float(v) for xy in r for v in xy])
        return 3, out
    base = {C.MULTIPOINT: 4, C.MULTILINESTRING: 5, C.MULTIPOLYGON: 6,
            C.GEOMETRYCOLLECTION: 7}[t]
    parts = g.parts or []
    out = struct.pack("<i", len(parts))
    for p in parts:
        ecls, payload = _geom_payload(p)
        out += bytes([_MARK_ENTITY]) + struct.pack("<i", ecls) + payload
    return base, out


def wkb_to_spatialite_blob(wkb: Optional[bytes], srid: int = 4326
                           ) -> Optional[bytes]:
    if wkb is None:
        return None
    g = from_wkb(bytes(wkb))
    cls, payload = _geom_payload(g)
    bd = g.bounds()
    if not bd:
        bd = (0.0, 0.0, 0.0, 0.0)
    return (bytes([_MARK_START, 0x01]) + struct.pack("<i", srid)
            + struct.pack("<4d", *bd) + bytes([_MARK_MBR])
            + struct.pack("<i", cls) + payload + bytes([_MARK_END]))


# ------------------------------------------------------------------- scan

def is_spatialite(path: str) -> bool:
    try:
        with _connect_ro(path) as con:
            return con.execute(
                "SELECT count(*) FROM sqlite_master WHERE type IN "
                "('table','view') AND name='geometry_columns'"
            ).fetchone()[0] > 0
    except sqlite3.Error:
        return False


def spatialite_layers(path: str) -> List[dict]:
    with _connect_ro(path) as con:
        cols = {r[1] for r in con.execute("PRAGMA table_info(geometry_columns)")}
        rows = con.execute(
            "SELECT f_table_name, f_geometry_column, srid FROM geometry_columns"
        ).fetchall()
        has_idx = "spatial_index_enabled" in cols
        out = []
        for tname, gcol, srid in rows:
            idx = 0
            if has_idx:
                idx = con.execute(
                    "SELECT spatial_index_enabled FROM geometry_columns "
                    "WHERE f_table_name=? AND f_geometry_column=?",
                    (tname, gcol)).fetchone()[0]
            out.append({"layer": tname, "geom_column": gcol,
                        "srid": srid, "spatial_index": bool(idx)})
        return out


def spatialite_scan(
    path: str,
    layer: Optional[str] = None,
    columns: Optional[List[str]] = None,
    bbox: Optional[Tuple[float, float, float, float]] = None,
    geom_col: str = "geom",
    num_partitions: Optional[int] = None,
) -> Scan:
    layers = spatialite_layers(path)
    if not layers:
        raise ValueError(f"{path}: no layers in geometry_columns")
    meta = layers[0] if layer is None else next(
        (m for m in layers if m["layer"] == layer), None)
    if meta is None:
        raise ValueError(
            f"{path}: no layer {layer!r}; available: "
            f"{[m['layer'] for m in layers]}")
    lname, gcol = meta["layer"], meta["geom_column"]

    with _connect_ro(path) as con:
        info = con.execute(f'PRAGMA table_info("{lname}")').fetchall()
        span = con.execute(
            f'SELECT min(_rowid_), max(_rowid_), count(*) FROM "{lname}"'
        ).fetchone()
        has_rtree = con.execute(
            "SELECT count(*) FROM sqlite_master WHERE name=?",
            (f"idx_{lname}_{gcol}",)).fetchone()[0] > 0

    attr_cols = [r[1] for r in info if r[1] != gcol]
    types = {r[1]: _spark_type(r[2]) for r in info}
    if columns:
        attr_cols = [c for c in attr_cols if c in columns]
    schema = T.StructType(
        [T.StructField(c, types[c]) for c in attr_cols]
        + [T.StructField(geom_col, T.BinaryType())])

    lo, hi = (int(span[0]), int(span[1])) if span[2] else (0, -1)
    np_ = num_partitions or min(max(1, span[2] // 50_000 + 1), 64)
    step = max(1, (hi - lo + 1) // np_ + 1)
    ranges = [(path, lo + i * step, min(hi, lo + (i + 1) * step - 1))
              for i in range(np_) if lo + i * step <= hi]
    sel = ", ".join(f'"{c}"' for c in attr_cols + [gcol])
    want_bbox = bbox

    def parse(p, rlo, rhi):
        con = _connect_ro(p)
        try:
            ids: Optional[set] = None
            if want_bbox is not None and has_rtree:
                try:
                    xmin, ymin, xmax, ymax = want_bbox
                    ids = {r[0] for r in con.execute(
                        f'SELECT pkid FROM "idx_{lname}_{gcol}" '
                        "WHERE xmin <= ? AND xmax >= ? "
                        "AND ymin <= ? AND ymax >= ?",
                        (xmax, xmin, ymax, ymin))}
                except sqlite3.OperationalError:
                    ids = None
            rows = con.execute(
                f'SELECT _rowid_, {sel} FROM "{lname}" '
                f"WHERE _rowid_ BETWEEN {int(rlo)} AND {int(rhi)}"
            ).fetchall()
        finally:
            con.close()
        out = []
        for r in rows:
            rid, attrs, gblob = r[0], r[1:-1], r[-1]
            if ids is not None and rid not in ids:
                continue
            wkb = spatialite_blob_to_wkb(gblob)
            if want_bbox is not None and wkb is not None and ids is None:
                bd = from_wkb(wkb).bounds()
                if bd:
                    xmin, ymin, xmax, ymax = want_bbox
                    if (bd[0] > xmax or bd[2] < xmin
                            or bd[1] > ymax or bd[3] < ymin):
                        continue
            out.append(tuple(attrs) + (wkb,))
        return out

    return Scan(schema, parse, ranges=ranges,
                ddl="path string, lo long, hi long")


def st_read_spatialite(
    spark: SparkSession,
    path: str,
    layer: Optional[str] = None,
    columns: Optional[List[str]] = None,
    bbox: Optional[Tuple[float, float, float, float]] = None,
    geom_col: str = "geom",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Distributed SpatiaLite read: rowid-range parallel scan, R*Tree
    (idx_<table>_<geom>) bbox prefilter, blob→WKB conversion per batch."""
    return run(spark, spatialite_scan(path, layer, columns, bbox, geom_col,
                                      num_partitions))


# ------------------------------------------------------------------- sink

_SPARK_TO_SQLITE = {
    T.LongType(): "INTEGER", T.IntegerType(): "INTEGER",
    T.ShortType(): "INTEGER", T.DoubleType(): "REAL",
    T.FloatType(): "REAL", T.StringType(): "TEXT",
    T.BooleanType(): "INTEGER", T.BinaryType(): "BLOB",
}


def st_write_spatialite(
    df: DataFrame,
    path: str,
    layer: str = "layer",
    geom_col: str = "geom",
    srid: int = 4326,
    max_bytes: int = 1 << 30,
) -> None:
    """Single-writer SpatiaLite sink (one sqlite file by format nature,
    byte-guarded like the gpkg sink): legacy-compatible geometry_columns
    registry + BLOB geometries."""
    est = df.agg(F.sum(F.length(F.col(geom_col))).alias("b")) \
        .collect()[0]["b"] or 0
    if est > max_bytes:
        raise ValueError(
            f"st_write_spatialite is a single-writer sink; payload "
            f"~{est >> 20} MiB exceeds {max_bytes >> 20} MiB (use parquet)")
    rows = df.collect()
    attrs = [f for f in df.schema.fields if f.name != geom_col]
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        cols_sql = ", ".join(
            f'"{f.name}" {_SPARK_TO_SQLITE.get(f.dataType, "TEXT")}'
            for f in attrs)
        con.execute(f'CREATE TABLE "{layer}" ({cols_sql}{"," if cols_sql else ""} '
                    f'"{geom_col}" BLOB)')
        con.execute(
            "CREATE TABLE geometry_columns (f_table_name TEXT, "
            "f_geometry_column TEXT, geometry_type INTEGER, "
            "coord_dimension INTEGER, srid INTEGER, "
            "spatial_index_enabled INTEGER)")
        con.execute("INSERT INTO geometry_columns VALUES (?, ?, 0, 2, ?, 0)",
                    (layer, geom_col, srid))
        ph = ", ".join("?" for _ in range(len(attrs) + 1))
        con.executemany(
            f'INSERT INTO "{layer}" VALUES ({ph})',
            [tuple(r[f.name] for f in attrs)
             + (wkb_to_spatialite_blob(
                 None if r[geom_col] is None else bytes(r[geom_col]), srid),)
             for r in rows])
        con.commit()
    finally:
        con.close()
