"""Native GeoPackage (GPKG) source/sink — no GDAL.

GeoPackage is a public OGC spec (12-128r15): an SQLite database with a
``gpkg_contents`` layer registry, a ``gpkg_geometry_columns`` table, and
feature tables whose geometry column holds a "GP" header (version, flags,
srs_id, optional envelope) followed by standard ISO WKB. Python's stdlib
``sqlite3`` reads the container, so the engine needs no native library —
this fills the first OGR-format gap a real user hits (reference:
``spatial/src/spatial/gdal/functions/st_read.cpp:612-641`` lists GPKG among
the GDAL drivers; ``test/sql/gdal/*.test`` exercise it).

Spark-first layout:

* **bind (driver)**: one short-lived sqlite3 connection reads the layer
  registry, the column schema (PRAGMA table_info) and the rowid span —
  metadata only, no feature rows.
* **scan (executors)**: the rowid span is split into ranges, one range per
  task; each task opens the file read-only and scans
  ``SELECT <cols> WHERE _rowid_ BETWEEN lo AND hi``. Column projection is
  pushed into the sqlite query; a bbox filter is applied per batch from the
  GPKG envelope header (cheap — no WKB decode) with an R*tree prefilter
  when the file ships one and the runtime sqlite has the rtree module.
"""

from __future__ import annotations

import os
import sqlite3
import struct
from typing import List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .filescan import Scan, run

_GPKG_APP_ID = 0x47504B47  # 'GPKG'


# ------------------------------------------------------------ blob codec

def gpkg_blob_to_wkb(blob: Optional[bytes]) -> Optional[bytes]:
    """Strip the GeoPackage binary header → raw ISO WKB (spec §2.1.3)."""
    if blob is None:
        return None
    b = bytes(blob)
    if len(b) < 8 or b[0] != 0x47 or b[1] != 0x50:
        raise ValueError("not a GeoPackage geometry blob (missing GP magic)")
    flags = b[3]
    if flags & 0x10:  # empty-geometry flag
        return b[8 + _envelope_bytes(flags):] or None
    return b[8 + _envelope_bytes(flags):]


def _envelope_bytes(flags: int) -> int:
    ind = (flags >> 1) & 0x07
    return {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}.get(ind, 0)


def gpkg_blob_envelope(blob: bytes) -> Optional[Tuple[float, float, float, float]]:
    """(minx, miny, maxx, maxy) from the header envelope if present
    (GPKG stores it as [minx, maxx, miny, maxy])."""
    flags = blob[3]
    if _envelope_bytes(flags) < 32:
        return None
    order = "<" if flags & 0x01 else ">"
    minx, maxx, miny, maxy = struct.unpack_from(order + "4d", blob, 8)
    return minx, miny, maxx, maxy


def wkb_to_gpkg_blob(wkb: Optional[bytes], srs_id: int = 0,
                     envelope: Optional[Tuple[float, float, float, float]] = None,
                     ) -> Optional[bytes]:
    """ISO WKB → GeoPackage blob (little-endian header; envelope optional)."""
    if wkb is None:
        return None
    flags = 0x01  # little-endian header
    env = b""
    if envelope is not None:
        flags |= 0x02  # envelope indicator 1 (xy)
        minx, miny, maxx, maxy = envelope
        env = struct.pack("<4d", minx, maxx, miny, maxy)
    return b"GP\x00" + bytes([flags]) + struct.pack("<i", srs_id) + env + bytes(wkb)


# ------------------------------------------------------------ bind (driver)

def _connect_ro(path: str) -> sqlite3.Connection:
    return sqlite3.connect(f"file:{path}?mode=ro&immutable=1", uri=True)


def gpkg_layers(path: str) -> List[dict]:
    """Layer registry from gpkg_contents ⋈ gpkg_geometry_columns."""
    with _connect_ro(path) as con:
        rows = con.execute(
            """SELECT c.table_name, g.column_name, g.geometry_type_name,
                      c.srs_id, c.min_x, c.min_y, c.max_x, c.max_y
               FROM gpkg_contents c
               JOIN gpkg_geometry_columns g ON g.table_name = c.table_name
               WHERE c.data_type = 'features'"""
        ).fetchall()
    return [
        {
            "layer": r[0], "geom_column": r[1], "geometry_type": r[2],
            "srs_id": r[3], "bbox": (r[4], r[5], r[6], r[7]),
        }
        for r in rows
    ]


_SQLITE_TO_SPARK = (
    ("INT", T.LongType()),
    ("CHAR", T.StringType()),
    ("TEXT", T.StringType()),
    ("CLOB", T.StringType()),
    ("REAL", T.DoubleType()),
    ("FLOA", T.DoubleType()),
    ("DOUB", T.DoubleType()),
    ("BLOB", T.BinaryType()),
    ("DATE", T.StringType()),
    ("BOOL", T.LongType()),
)


def _spark_type(decl: str) -> T.DataType:
    d = (decl or "").upper()
    for frag, t in _SQLITE_TO_SPARK:
        if frag in d:
            return t
    return T.StringType()


def gpkg_scan(
    path: str,
    layer: Optional[str] = None,
    columns: Optional[List[str]] = None,
    bbox: Optional[Tuple[float, float, float, float]] = None,
    geom_col: str = "geom",
    num_partitions: Optional[int] = None,
) -> Scan:
    layers = gpkg_layers(path)
    if not layers:
        raise ValueError(f"{path}: no feature layers in gpkg_contents")
    meta = None
    if layer is None:
        meta = layers[0]
    else:
        for m in layers:
            if m["layer"] == layer:
                meta = m
                break
        if meta is None:
            raise ValueError(
                f"{path}: no layer {layer!r}; available: {[m['layer'] for m in layers]}"
            )
    lname, gcol = meta["layer"], meta["geom_column"]

    with _connect_ro(path) as con:
        info = con.execute(f'PRAGMA table_info("{lname}")').fetchall()
        span = con.execute(
            f'SELECT min(_rowid_), max(_rowid_), count(*) FROM "{lname}"'
        ).fetchone()
        has_rtree = con.execute(
            "SELECT count(*) FROM sqlite_master WHERE type='table' AND name=?",
            (f"rtree_{lname}_{gcol}",),
        ).fetchone()[0] > 0
    if span[2] == 0:
        lo, hi = 0, -1
    else:
        lo, hi = int(span[0]), int(span[1])

    attr_cols = [r[1] for r in info if r[1] != gcol]
    types = {r[1]: _spark_type(r[2]) for r in info}
    if columns:
        attr_cols = [c for c in attr_cols if c in columns]
    fields = [T.StructField(c, types[c]) for c in attr_cols]
    fields.append(T.StructField(geom_col, T.BinaryType()))
    schema = T.StructType(fields)

    np_ = num_partitions or min(max(1, (span[2] or 0) // 50_000 + 1), 64)
    step = max(1, (hi - lo + 1) // np_ + 1)
    ranges = [(path, lo + i * step, min(hi, lo + (i + 1) * step - 1))
              for i in range(np_) if lo + i * step <= hi]
    sel_cols = ", ".join(f'"{c}"' for c in attr_cols + [gcol]) or f'"{gcol}"'
    want_bbox = bbox

    def parse(p, rlo, rhi):
        con = _connect_ro(p)
        try:
            sql = (f'SELECT {sel_cols} FROM "{lname}" '
                   f"WHERE _rowid_ BETWEEN {int(rlo)} AND {int(rhi)}")
            ids: Optional[set] = None
            if want_bbox is not None and has_rtree:
                try:
                    xmin, ymin, xmax, ymax = want_bbox
                    ids = {
                        r[0] for r in con.execute(
                            f'SELECT id FROM "rtree_{lname}_{gcol}" '
                            "WHERE minx <= ? AND maxx >= ? "
                            "AND miny <= ? AND maxy >= ?",
                            (xmax, xmin, ymax, ymin),
                        )
                    }
                except sqlite3.OperationalError:
                    ids = None  # runtime sqlite lacks rtree: scan
            rows = con.execute(
                sql.replace("SELECT ", "SELECT _rowid_, ", 1)
            ).fetchall()
        finally:
            con.close()
        out_rows = []
        for r in rows:
            rid, attrs, gblob = r[0], r[1:-1], r[-1]
            if ids is not None and rid not in ids:
                continue
            if want_bbox is not None and gblob is not None:
                env = gpkg_blob_envelope(bytes(gblob))
                if env is not None:
                    xmin, ymin, xmax, ymax = want_bbox
                    if (env[0] > xmax or env[2] < xmin
                            or env[1] > ymax or env[3] < ymin):
                        continue
            out_rows.append(tuple(attrs) + (gpkg_blob_to_wkb(gblob),))
        return out_rows

    return Scan(schema, parse, ranges=ranges,
                ddl="path string, lo long, hi long")


def st_read_gpkg(
    spark: SparkSession,
    path: str,
    layer: Optional[str] = None,
    columns: Optional[List[str]] = None,
    bbox: Optional[Tuple[float, float, float, float]] = None,
    geom_col: str = "geom",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Distributed GeoPackage read → DataFrame with the layer's attribute
    columns plus ``geom_col`` (raw WKB binary, header stripped)."""
    df = run(spark, gpkg_scan(path, layer, columns, bbox, geom_col,
                              num_partitions))
    if bbox is not None:
        # exact bbox re-check on decoded WKB for headerless blobs
        from ..functions import scalar as S

        b = S.st_extent(geom_col)
        xmin, ymin, xmax, ymax = bbox
        df = df.filter(
            (b["xmin"] <= xmax) & (b["xmax"] >= xmin)
            & (b["ymin"] <= ymax) & (b["ymax"] >= ymin)
        )
    return df


# ------------------------------------------------------------ sink

_SPARK_TO_SQLITE = {
    T.LongType(): "INTEGER", T.IntegerType(): "INTEGER",
    T.ShortType(): "INTEGER", T.BooleanType(): "INTEGER",
    T.DoubleType(): "REAL", T.FloatType(): "REAL",
    T.StringType(): "TEXT", T.BinaryType(): "BLOB",
}


def st_write_gpkg(
    df: DataFrame,
    path: str,
    layer: str = "layer",
    geom_col: str = "geom",
    srs_id: int = 0,
    max_bytes: int = 1 << 30,
) -> None:
    """Single-writer GeoPackage sink (COPY … FORMAT GDAL 'x.gpkg' analog,
    st_write.cpp:559-570): creates the required registry tables and one
    feature table. Byte-guarded like st_write_shp; parquet is the scale
    path."""
    from ..geom.wkb import from_wkb

    est = df.agg(F.sum(F.length(F.col(geom_col))).alias("b")).collect()[0]["b"] or 0
    if est > max_bytes:
        raise ValueError(
            f"st_write_gpkg is a single-writer sink; payload ~{est >> 20} MiB "
            f"exceeds max_bytes={max_bytes >> 20} MiB"
        )
    rows = df.collect()
    attrs = [c for c in df.columns if c != geom_col]
    decls = []
    for c in attrs:
        decls.append(f'"{c}" ' + _SPARK_TO_SQLITE.get(df.schema[c].dataType, "TEXT"))

    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.execute(f"PRAGMA application_id = {_GPKG_APP_ID}")
        con.execute("PRAGMA user_version = 10300")
        con.execute(
            """CREATE TABLE gpkg_spatial_ref_sys (
                 srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
                 organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
                 definition TEXT NOT NULL, description TEXT)"""
        )
        con.executemany(
            "INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
            [
                ("Undefined cartesian SRS", -1, "NONE", -1, "undefined", None),
                ("Undefined geographic SRS", 0, "NONE", 0, "undefined", None),
                ("WGS 84", 4326, "EPSG", 4326,
                 'GEOGCS["WGS 84",DATUM["WGS_1984"]]', None),
            ],
        )
        con.execute(
            """CREATE TABLE gpkg_contents (
                 table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL,
                 identifier TEXT UNIQUE, description TEXT DEFAULT '',
                 last_change DATETIME, min_x DOUBLE, min_y DOUBLE,
                 max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)"""
        )
        con.execute(
            """CREATE TABLE gpkg_geometry_columns (
                 table_name TEXT NOT NULL, column_name TEXT NOT NULL,
                 geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
                 z TINYINT NOT NULL, m TINYINT NOT NULL,
                 CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name))"""
        )
        cols_sql = ", ".join(['fid INTEGER PRIMARY KEY AUTOINCREMENT']
                             + decls + [f'"{geom_col}" BLOB'])
        con.execute(f'CREATE TABLE "{layer}" ({cols_sql})')

        bounds = [np.inf, np.inf, -np.inf, -np.inf]
        ins = (f'INSERT INTO "{layer}" ({", ".join(chr(34)+c+chr(34) for c in attrs + [geom_col])}) '
               f'VALUES ({", ".join("?" for _ in attrs + [geom_col])})')
        payload = []
        for r in rows:
            wkb = r[geom_col]
            env = None
            if wkb is not None:
                g = from_wkb(bytes(wkb))
                bd = g.bounds()
                if bd:
                    env = bd
                    bounds[0] = min(bounds[0], bd[0])
                    bounds[1] = min(bounds[1], bd[1])
                    bounds[2] = max(bounds[2], bd[2])
                    bounds[3] = max(bounds[3], bd[3])
            payload.append(
                tuple(r[c] for c in attrs)
                + (wkb_to_gpkg_blob(None if wkb is None else bytes(wkb),
                                    srs_id, env),)
            )
        con.executemany(ins, payload)
        fin = bounds if np.isfinite(bounds[0]) else [None] * 4
        con.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, "
            "min_x, min_y, max_x, max_y, srs_id) VALUES (?,?,?,?,?,?,?,?)",
            (layer, "features", layer, fin[0], fin[1], fin[2], fin[3], srs_id),
        )
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
            (layer, geom_col, "GEOMETRY", srs_id),
        )
        con.commit()
    finally:
        con.close()
