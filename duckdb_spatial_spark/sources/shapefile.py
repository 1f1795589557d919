"""Distributed shapefile source — the Spark analog of the reference's
native ST_ReadSHP (read_shapefile.cpp:560-569, no GDAL dependency).

Bind phase (driver): glob the path, read ONE .dbf header to infer the
attribute schema (read_shapefile.cpp maps DBF→DuckDB types the same way);
``geom GEOMETRY`` is appended last (read_shapefile.cpp:154-160).

Scan phase (executors): one task per file (``scan_ranges``) — each task
opens its .shp/.dbf pair. Files must live on storage every executor can
reach (posix/NFS locally; object storage on a real cluster), matching the
reference's per-thread scan model (SURVEY EP2)."""

from __future__ import annotations

import glob as _glob
import os
from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..geom import shp as SHP
from ..geom.wkb import to_wkb
from .filescan import Scan, run

_DBF_SPARK_TYPES = {
    "C": T.StringType(),
    "D": T.StringType(),
    "L": T.BooleanType(),
}


def _field_type(ftype: str, fdec: int):
    if ftype in _DBF_SPARK_TYPES:
        return _DBF_SPARK_TYPES[ftype]
    if ftype in ("N", "F"):
        return T.DoubleType() if (ftype == "F" or fdec > 0) else T.LongType()
    return T.StringType()


def shp_schema(path: str, geom_col: str = "geom") -> T.StructType:
    dbf_path = os.path.splitext(path)[0] + ".dbf"
    fields: List[T.StructField] = []
    if os.path.exists(dbf_path):
        with open(dbf_path, "rb") as fh:
            buf = fh.read(4096)
        dbf_fields, _ = SHP.parse_dbf(buf[: max(32 + 32 * 128, len(buf))])
        for name, ftype, _flen, fdec in dbf_fields:
            fields.append(T.StructField(name, _field_type(ftype, fdec)))
    fields.append(T.StructField(geom_col, T.BinaryType()))
    return T.StructType(fields)


def shp_scan(path: str, geom_col: str = "geom",
             encoding: str = "utf-8") -> Scan:
    files = sorted(_glob.glob(path)) if any(c in path for c in "*?[") else [path]
    if not files:
        raise FileNotFoundError(path)
    for f in files:
        if not os.path.exists(f):
            raise FileNotFoundError(f)
    schema = shp_schema(files[0], geom_col)

    width = len(schema.fields) - 1

    def parse(p):
        with open(p, "rb") as fh:
            geoms = SHP.parse_shp(fh.read())
        rows = []
        dbf_path = os.path.splitext(p)[0] + ".dbf"
        if os.path.exists(dbf_path):
            with open(dbf_path, "rb") as fh:
                _, rows = SHP.parse_dbf(fh.read(), encoding=encoding)
        if rows:
            geoms = geoms[:len(rows)]
        out = []
        for i, g in enumerate(geoms):
            attrs = tuple(rows[i][:width]) if i < len(rows) else ()
            out.append(attrs + (None,) * (width - len(attrs))
                       + (None if g is None else to_wkb(g),))
        return out

    return Scan(schema, parse, ranges=[(f,) for f in files], ddl="path string")


def st_read_shp(
    spark: SparkSession,
    path: str,
    geom_col: str = "geom",
    encoding: str = "utf-8",
) -> DataFrame:
    """Read .shp (+sidecar .dbf) into a DataFrame: DBF attributes + WKB
    geometry column appended last."""
    return run(spark, shp_scan(path, geom_col, encoding))


def st_write_shp(df: DataFrame, path: str, geom_col: str = "geom",
                 encoding: str = "utf-8",
                 max_bytes: int = 1 << 30) -> None:
    """Single-file shapefile writer (driver-side collect — mirrors the
    reference's single-writer COPY sink, st_write.cpp:559-570). Small
    exports only; parquet is the scale path. Guarded by a pre-collect byte
    probe (one agg on the WKB column): exports past ``max_bytes`` raise
    instead of silently OOMing the driver."""
    from pyspark.sql import functions as F

    from ..geom.wkb import from_wkb

    est = df.agg(F.sum(F.length(F.col(geom_col))).alias("b")).collect()[0]["b"] or 0
    if est > max_bytes:
        raise ValueError(
            f"st_write_shp is a single-writer sink; geometry payload "
            f"~{est >> 20} MiB exceeds max_bytes={max_bytes >> 20} MiB — "
            "write parquet instead, or raise max_bytes explicitly"
        )
    rows = df.collect()
    attrs = [c for c in df.columns if c != geom_col]
    fields = []
    for c in attrs:
        dt = df.schema[c].dataType
        if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType)):
            fields.append((c, "N", 18, 0))
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            fields.append((c, "N", 20, 6))
        elif isinstance(dt, T.BooleanType):
            fields.append((c, "L", 1, 0))
        else:
            fields.append((c, "C", 64, 0))
    geoms = [None if r[geom_col] is None else from_wkb(bytes(r[geom_col])) for r in rows]
    attr_rows = [tuple(r[c] for c in attrs) for r in rows]
    base = os.path.splitext(path)[0]
    with open(base + ".shp", "wb") as fh:
        fh.write(SHP.write_shp(geoms))
    with open(base + ".dbf", "wb") as fh:
        fh.write(SHP.write_dbf(fields, attr_rows, encoding=encoding))
