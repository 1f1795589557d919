"""OpenFileGDB source/sink — the last OGR-format gap closed natively.

The reference reads/writes .gdb through GDAL's OpenFileGDB driver
(``spatial/src/spatial/gdal/functions/st_read.cpp:612-641``; its own test
is a write→read roundtrip, ``test/sql/gdal/st_read_gdb.test``). Here the
binary codec is ``geom/gdbtable.py`` (public FGDB spec) and Spark does the
parallelism:

* **bind (driver)**: resolve the layer via GDB_SystemCatalog
  (a00000001.gdbtable), read the field schema and the .gdbtablx row-offset
  array — a few KB of footer-class I/O.
* **scan (executors)**: the offset array is range-partitioned; each task
  opens the .gdbtable and decodes only its row span (mapInPandas), the
  same shape as the gpkg rowid-range and fgb leaf-offset scans.
* **sink**: single-writer like the shp/gpkg/kml sinks (a .gdb is one
  binary table per layer — not a splittable format), byte-guarded with a
  parquet pointer past 1 GiB.
"""

from __future__ import annotations

import os
from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom import gdbtable as GT
from ..geom.wkb import from_wkb, to_wkb
from .filescan import Scan, run

_SPARK_TYPE = {
    GT.FT_INT16: T.IntegerType(),
    GT.FT_INT32: T.IntegerType(),
    GT.FT_FLOAT32: T.DoubleType(),
    GT.FT_FLOAT64: T.DoubleType(),
    GT.FT_STRING: T.StringType(),
    GT.FT_DATETIME: T.DoubleType(),
    GT.FT_OBJECTID: T.LongType(),
    GT.FT_BINARY: T.BinaryType(),
    GT.FT_GEOMETRY: T.BinaryType(),
}


def gdb_layers(path: str) -> List[str]:
    return GT.layer_names(path)


def _resolve_layer(path: str, layer: Optional[str]) -> str:
    """Layer name → aXXXXXXXX file base path."""
    cat = GT.read_catalog(path)
    users = [(rid, n) for rid, n in cat
             if rid >= 9 and not n.upper().startswith("GDB_")]
    if not users:
        raise ValueError(f"{path}: no feature layers in GDB_SystemCatalog")
    if layer is None:
        rid, _ = users[0]
    else:
        match = [rid for rid, n in users if n == layer]
        if not match:
            raise ValueError(
                f"{path}: no layer {layer!r}; available: "
                f"{[n for _, n in users]}")
        rid = match[0]
    return GT.table_file(path, rid)


def gdb_schema(base: str, geom_col: str = "geom") -> T.StructType:
    _, fields = GT.read_header_and_fields(base + ".gdbtable")
    out = []
    for f in fields:
        name = geom_col if f.ftype == GT.FT_GEOMETRY else f.name
        out.append(T.StructField(name, _SPARK_TYPE[f.ftype],
                                 nullable=f.nullable or True))
    return T.StructType(out)


def gdb_scan(
    path: str,
    layer: Optional[str] = None,
    columns: Optional[List[str]] = None,
    bbox: Optional[tuple] = None,
    geom_col: str = "geom",
    num_partitions: Optional[int] = None,
) -> Scan:
    base = _resolve_layer(path, layer)
    _, fields = GT.read_header_and_fields(base + ".gdbtable")
    offsets = GT.read_tablx(base + ".gdbtablx")
    schema = gdb_schema(base, geom_col)
    keep_idx = list(range(len(schema.fields)))
    if columns:
        keep_idx = [i for i, f in enumerate(schema.fields)
                    if f.name in columns or f.name == geom_col]
        schema = T.StructType([schema.fields[i] for i in keep_idx])
    n = len(offsets)
    np_ = num_partitions or min(max(1, n // 50_000 + 1), 64)
    step = max(1, (n + np_ - 1) // np_)
    ranges = [(base, lo, min(lo + step, n)) for lo in range(0, n, step)]
    gidx = next((i for i, f in enumerate(fields)
                 if f.ftype == GT.FT_GEOMETRY), None)
    want_bbox = bbox

    def parse(b, lo, hi):
        offs = GT.read_tablx(b + ".gdbtablx")[lo:hi]
        out = []
        for r in GT.read_rows(b + ".gdbtable", fields, offs,
                              first_rowid=lo + 1):
            vals = list(r)
            if gidx is not None:
                g = vals[gidx]
                if g is not None and want_bbox is not None:
                    bd = g.bounds()
                    if bd and (bd[0] > want_bbox[2] or bd[2] < want_bbox[0]
                               or bd[1] > want_bbox[3]
                               or bd[3] < want_bbox[1]):
                        continue
                vals[gidx] = None if g is None else to_wkb(g)
            out.append(tuple(vals[i] for i in keep_idx))
        return out

    return Scan(schema, parse, ranges=ranges,
                ddl="base string, lo long, hi long")


def st_read_gdb(
    spark: SparkSession,
    path: str,
    layer: Optional[str] = None,
    columns: Optional[List[str]] = None,
    bbox: Optional[tuple] = None,
    geom_col: str = "geom",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Distributed OpenFileGDB read → attribute columns + WKB geometry."""
    return run(spark, gdb_scan(path, layer, columns, bbox, geom_col,
                               num_partitions))


_GEOM_LAYER = {1: "POINT", 4: "MULTIPOINT", 2: "POLYLINE", 5: "POLYLINE",
               3: "POLYGON", 6: "POLYGON"}

_MAX_SINK_BYTES = 1 << 30


def st_write_gdb(df: DataFrame, path: str, layer: str = "layer",
                 geom_col: str = "geom") -> None:
    """Create ``path`` as a one-layer .gdb directory (system catalog +
    layer table). Single-writer by format nature; byte-guarded BEFORE the
    collect (one distributed aggregate over the WKB column), so an
    over-budget frame raises without materializing rows on the driver."""
    est = df.agg(
        F.sum(F.length(F.col(geom_col)) + 64).alias("b")
    ).collect()[0]["b"] or 0
    if est > _MAX_SINK_BYTES:
        raise ValueError(
            f"st_write_gdb: ~{est >> 20} MiB exceeds the single-writer "
            "guard (1 GiB); write parquet for datasets this size")
    rows = df.collect()
    os.makedirs(path, exist_ok=True)

    fields: List[GT.FieldDef] = [GT.FieldDef("OBJECTID", GT.FT_OBJECTID,
                                             nullable=False)]
    geom_sql_idx = None
    for i, f in enumerate(df.schema.fields):
        if f.name == geom_col:
            geom_sql_idx = i
            continue
        if isinstance(f.dataType, (T.ShortType, T.IntegerType)):
            fields.append(GT.FieldDef(f.name, GT.FT_INT32))
        elif isinstance(f.dataType, (T.LongType,)):
            fields.append(GT.FieldDef(f.name, GT.FT_FLOAT64))
        elif isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            fields.append(GT.FieldDef(f.name, GT.FT_FLOAT64))
        elif isinstance(f.dataType, T.BinaryType):
            fields.append(GT.FieldDef(f.name, GT.FT_BINARY))
        else:
            fields.append(GT.FieldDef(f.name, GT.FT_STRING))
    layer_geom = "NONE"
    if geom_sql_idx is not None:
        geoms = [None if r[geom_col] is None else from_wkb(bytes(r[geom_col]))
                 for r in rows]
        tids = {g.type_id for g in geoms if g is not None and not g.is_empty()}
        layer_geom = _GEOM_LAYER.get(next(iter(tids)), "NONE") if len(tids) == 1 else "NONE"
        # quantization origins must sit at/below the data minimum — FGDB
        # varuints cannot encode coordinates below the origin (GDAL's
        # writer derives them from the layer extent the same way); keep
        # the default 1e9 scale unless the extent would overflow int63
        bounds = [g.bounds() for g in geoms if g is not None and g.bounds()]
        gfd = GT.FieldDef("SHAPE", GT.FT_GEOMETRY)
        if bounds:
            xmin = min(b[0] for b in bounds)
            ymin = min(b[1] for b in bounds)
            xmax = max(b[2] for b in bounds)
            ymax = max(b[3] for b in bounds)
            gfd.xorigin = min(GT.XORIGIN, float(np.floor(xmin)) - 1.0)
            gfd.yorigin = min(GT.YORIGIN, float(np.floor(ymin)) - 1.0)
            extent = max(xmax - gfd.xorigin, ymax - gfd.yorigin, 1.0)
            gfd.xyscale = min(GT.XYSCALE, float(2 ** 53) / extent)
        fields.append(gfd)

    attr_names = [f.name for f in fields
                  if f.ftype not in (GT.FT_OBJECTID, GT.FT_GEOMETRY)]
    table_rows = []
    for i, r in enumerate(rows):
        vals = [i + 1]
        for nm in attr_names:
            vals.append(r[nm])
        if geom_sql_idx is not None:
            vals.append(geoms[i])
        table_rows.append(vals)

    # system catalog: 8 standard system rows, the user layer at rowid 9
    cat_rows = [[i + 1, nm, 0] for i, nm in enumerate(GT.SYSTEM_TABLES)]
    cat_rows.append([9, layer, 0])
    GT.write_table(GT.table_file(path, 1), GT.catalog_fields(), cat_rows)
    GT.write_table(GT.table_file(path, 9), fields, table_rows,
                   layer_geom=layer_geom)
