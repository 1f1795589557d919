"""Native FlatGeobuf source/sink (geom/fgb.py codec — no GDAL, no
flatbuffers lib).

Scan layout: the driver reads the header (+ the packed R-tree's leaf level
when present) to learn the column schema and feature byte offsets; with an
index the offsets are split into ranges, one executor task per range, each
seeking directly to its features. Without an index the feature stream is
size-prefixed and is scanned sequentially by a single task (the format
offers no other boundaries).
"""

from __future__ import annotations

import os
import struct
from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom import fgb as FGB
from ..geom.wkb import from_wkb, to_wkb
from .filescan import Scan, run

_CT_TO_SPARK = {
    FGB.CT_BYTE: T.LongType(), FGB.CT_UBYTE: T.LongType(),
    FGB.CT_BOOL: T.BooleanType(), FGB.CT_SHORT: T.LongType(),
    FGB.CT_USHORT: T.LongType(), FGB.CT_INT: T.LongType(),
    FGB.CT_UINT: T.LongType(), FGB.CT_LONG: T.LongType(),
    FGB.CT_ULONG: T.LongType(), FGB.CT_FLOAT: T.DoubleType(),
    FGB.CT_DOUBLE: T.DoubleType(), FGB.CT_STRING: T.StringType(),
    FGB.CT_JSON: T.StringType(), FGB.CT_DATETIME: T.StringType(),
    FGB.CT_BINARY: T.BinaryType(),
}

_SPARK_TO_CT = {
    T.LongType(): FGB.CT_LONG, T.IntegerType(): FGB.CT_INT,
    T.ShortType(): FGB.CT_SHORT, T.BooleanType(): FGB.CT_BOOL,
    T.DoubleType(): FGB.CT_DOUBLE, T.FloatType(): FGB.CT_FLOAT,
    T.StringType(): FGB.CT_STRING, T.BinaryType(): FGB.CT_BINARY,
}


def _read_header(path: str):
    with open(path, "rb") as fh:
        magic = fh.read(8)
        # byte 7 is the spec PATCH level (0 or 1) — real-world writers
        # emit 1; only the 'fgb' + version-3 + 'fgb' prefix is fixed
        if magic[:7] != FGB.MAGIC[:7]:
            raise ValueError(f"{path}: not a FlatGeobuf file")
        hsize = struct.unpack("<I", fh.read(4))[0]
        hdr = FGB.parse_header(fh.read(hsize))
        idx_size = FGB.index_size(hdr["features_count"], hdr["index_node_size"])
        idx = fh.read(idx_size) if idx_size else b""
        data_start = 12 + hsize + idx_size
    return hdr, idx, data_start


def fgb_scan(
    path: str,
    columns: Optional[List[str]] = None,
    bbox: Optional[tuple] = None,
    geom_col: str = "geom",
    num_partitions: Optional[int] = None,
) -> Scan:
    hdr, idx, data_start = _read_header(path)
    cols = hdr["columns"]
    attr_cols = [c["name"] for c in cols]
    if columns:
        attr_cols = [c for c in attr_cols if c in columns]
    fields = [
        T.StructField(c["name"], _CT_TO_SPARK.get(c["type"], T.StringType()))
        for c in cols if c["name"] in attr_cols
    ]
    fields.append(T.StructField(geom_col, T.BinaryType()))
    schema = T.StructType(fields)
    count = hdr["features_count"]
    gtype = hdr["geometry_type"]

    if count == 0:
        ranges = []
    elif idx:
        offs = FGB.leaf_offsets(idx, count, hdr["index_node_size"]) + data_start
        offs = np.sort(offs)
        np_ = num_partitions or min(max(1, count // 50_000 + 1), 64)
        bounds = np.array_split(offs, np_)
        ranges = []
        for i, chunk in enumerate(bounds):
            if not len(chunk):
                continue
            end = (int(bounds[i + 1][0]) if i + 1 < len(bounds)
                   and len(bounds[i + 1]) else None)
            ranges.append((path, int(chunk[0]), end))
    else:
        ranges = [(path, data_start, None)]
    want_bbox = bbox

    def parse(p, start, stop):
        rows = []
        for geom, props in FGB.scan_features(
            p, int(start), None if stop is None else int(stop), cols, gtype,
        ):
            if geom is not None and want_bbox is not None:
                bd = geom.bounds()
                if bd and (bd[0] > want_bbox[2] or bd[2] < want_bbox[0]
                           or bd[1] > want_bbox[3] or bd[3] < want_bbox[1]):
                    continue
            rows.append(tuple(props.get(c) for c in attr_cols)
                        + (None if geom is None else to_wkb(geom),))
        return rows

    return Scan(schema, parse, ranges=ranges,
                ddl="path string, start long, stop long")


def st_read_fgb(
    spark: SparkSession,
    path: str,
    columns: Optional[List[str]] = None,
    bbox: Optional[tuple] = None,
    geom_col: str = "geom",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    return run(spark, fgb_scan(path, columns, bbox, geom_col, num_partitions))


def st_write_fgb(
    df: DataFrame,
    path: str,
    layer: Optional[str] = None,
    geom_col: str = "geom",
    max_bytes: int = 1 << 30,
) -> None:
    """Single-writer FlatGeobuf sink (no spatial index — readers stream the
    size-prefixed features). Byte-guarded like the other native sinks."""
    est = df.agg(F.sum(F.length(F.col(geom_col))).alias("b")).collect()[0]["b"] or 0
    if est > max_bytes:
        raise ValueError(
            f"st_write_fgb is a single-writer sink; payload ~{est >> 20} MiB "
            f"exceeds max_bytes={max_bytes >> 20} MiB"
        )
    rows = df.collect()
    attrs = [c for c in df.columns if c != geom_col]
    col_types = [_SPARK_TO_CT.get(df.schema[c].dataType, FGB.CT_STRING)
                 for c in attrs]

    feats = []
    env = [np.inf, np.inf, -np.inf, -np.inf]
    gt_seen = set()
    for r in rows:
        wkb = r[geom_col]
        g = from_wkb(bytes(wkb)) if wkb is not None else None
        if g is not None:
            bd = g.bounds()
            if bd:
                env[0] = min(env[0], bd[0])
                env[1] = min(env[1], bd[1])
                env[2] = max(env[2], bd[2])
                env[3] = max(env[3], bd[3])
            gt_seen.add(g.type_id)
        props = FGB.encode_properties([r[c] for c in attrs], col_types)
        feats.append(FGB.build_feature(g, props))

    gtype = FGB.GT_UNKNOWN
    if len(gt_seen) == 1:
        gtype = {1: FGB.GT_POINT, 2: FGB.GT_LINESTRING, 3: FGB.GT_POLYGON,
                 4: FGB.GT_MULTIPOINT, 5: FGB.GT_MULTILINESTRING,
                 6: FGB.GT_MULTIPOLYGON, 7: FGB.GT_GEOMETRYCOLLECTION}.get(
            next(iter(gt_seen)), FGB.GT_UNKNOWN)
    hdr = FGB.build_header(
        layer or os.path.splitext(os.path.basename(path))[0],
        gtype, list(zip(attrs, col_types)), len(rows),
        tuple(env) if np.isfinite(env[0]) else None,
    )
    with open(path, "wb") as fh:
        fh.write(FGB.MAGIC)
        fh.write(struct.pack("<I", len(hdr)))
        fh.write(hdr)
        for fb in feats:
            fh.write(struct.pack("<I", len(fb)))
            fh.write(fb)
