"""MapInfo TAB source/sink — the MapInfo binary container, natively.

The reference reaches .tab through GDAL's MapInfo driver (driver list
``spatial/src/spatial/gdal/functions/st_read.cpp:612-641``); the
text-based MIF/MID interchange twin is ``sources/mif.py``. The binary
codec lives in ``geom/tabmap.py`` (public MITAB format description).

Scan shape (same as the gpkg/fgb/gdb sources):

* **bind (driver)**: read the .dat dBASE header (schema) and the .id
  offset array (a few KB) — feature count == len(offsets).
* **scan (executors)**: the rowid range is partitioned; each task seeks
  its record span in the fixed-record .dat (dBASE records are fixed
  size → any row is addressable) and decodes its .map objects via the
  .id offsets (mapInPandas).
* **sink**: single-writer (a TAB dataset is one interleaved block file),
  byte-guarded like the shp/gpkg/kml/fgb/gdb sinks.
"""

from __future__ import annotations

import os
import struct
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom import shp as SHP
from ..geom import tabmap as TM
from ..geom.wkb import from_wkb, to_wkb
from .filescan import Scan, run

_DBF_SPARK = {"C": T.StringType(), "N": T.LongType(), "F": T.DoubleType(),
              "L": T.BooleanType(), "D": T.StringType()}


def _dat_header(path: str):
    with open(path, "rb") as fh:
        head = fh.read(32)
        nrec = struct.unpack_from("<I", head, 4)[0]
        hdr_size = struct.unpack_from("<H", head, 8)[0]
        rec_size = struct.unpack_from("<H", head, 10)[0]
        fh.seek(0)
        hdr = fh.read(hdr_size)
    fields, _ = SHP.parse_dbf(hdr + b"\x1a")
    return fields, nrec, hdr_size, rec_size, hdr


def tab_schema(path: str, geom_col: str = "geom") -> T.StructType:
    base = os.path.splitext(path)[0]
    fields, *_ = _dat_header(base + ".dat")
    cols = [T.StructField(n, _DBF_SPARK.get(ft, T.StringType())
                          if not (ft == "N" and fd > 0) else T.DoubleType())
            for n, ft, fl, fd in fields]
    return T.StructType(cols + [T.StructField(geom_col, T.BinaryType())])


def _read_dat_range(dat_path: str, hdr: bytes, rec_size: int,
                    lo: int, hi: int):
    """Decode records [lo, hi) by splicing the header with the row span
    and patching the record count — byte-offset addressing, no full-file
    parse."""
    hdr_size = len(hdr)
    with open(dat_path, "rb") as fh:
        fh.seek(hdr_size + lo * rec_size)
        body = fh.read((hi - lo) * rec_size)
    patched = bytearray(hdr)
    struct.pack_into("<I", patched, 4, hi - lo)
    _, rows = SHP.parse_dbf(bytes(patched) + body + b"\x1a")
    return rows


def tab_scan(
    path: str,
    columns: Optional[List[str]] = None,
    bbox: Optional[tuple] = None,
    geom_col: str = "geom",
    num_partitions: Optional[int] = None,
) -> Scan:
    base = os.path.splitext(path)[0]
    fields, nrec, hdr_size, rec_size, hdr = _dat_header(base + ".dat")
    schema = tab_schema(path, geom_col)
    keep_idx = list(range(len(schema.fields)))
    if columns:
        keep_idx = [i for i, f in enumerate(schema.fields)
                    if f.name in columns or f.name == geom_col]
        schema = T.StructType([schema.fields[i] for i in keep_idx])
    np_ = num_partitions or min(max(1, nrec // 100_000 + 1), 64)
    step = max(1, (nrec + np_ - 1) // np_)
    ranges = [(base, lo, min(lo + step, nrec))
              for lo in range(0, nrec, step)]
    want_bbox = bbox

    def parse(b, lo, hi):
        rows = _read_dat_range(b + ".dat", hdr, rec_size, lo, hi)
        offsets = TM.read_id(b + ".id")[lo:hi]
        with open(b + ".map", "rb") as fh:
            mbuf = fh.read()
        aff, _ = TM.read_map_header(mbuf)
        out = []
        for r, off in zip(rows, offsets):
            g = TM.read_object(mbuf, int(off), aff)
            if g is not None and want_bbox is not None:
                bd = g.bounds()
                if bd and (bd[0] > want_bbox[2] or bd[2] < want_bbox[0]
                           or bd[1] > want_bbox[3] or bd[3] < want_bbox[1]):
                    continue
            vals = list(r) + [None if g is None else to_wkb(g)]
            out.append(tuple(vals[i] for i in keep_idx))
        return out

    return Scan(schema, parse, ranges=ranges,
                ddl="base string, lo long, hi long")


def st_read_tab(
    spark: SparkSession,
    path: str,
    columns: Optional[List[str]] = None,
    bbox: Optional[tuple] = None,
    geom_col: str = "geom",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Distributed MapInfo TAB read → attribute columns + WKB geometry."""
    return run(spark, tab_scan(path, columns, bbox, geom_col, num_partitions))


_MAX_SINGLE_WRITER = 1 << 30


def st_write_tab(df: DataFrame, path: str, geom_col: str = "geom") -> None:
    """Single-writer TAB sink (byte-guarded like shp/gpkg/fgb/gdb)."""
    base = os.path.splitext(path)[0]
    cols = [f for f in df.schema.fields if f.name != geom_col]
    est = df.select(
        F.sum(F.length(geom_col)).alias("gb"), F.count("*").alias("n")
    ).collect()[0]
    if (est["gb"] or 0) + (est["n"] or 0) * 64 > _MAX_SINGLE_WRITER:
        raise ValueError(
            "st_write_tab: dataset exceeds the 1 GiB single-writer guard; "
            "write partitioned parquet + WKB instead")
    fields = []
    for f in cols:
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType)):
            fields.append((f.name[:10], "N", 18, 0))
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType,
                                     T.DecimalType)):
            fields.append((f.name[:10], "N", 20, 6))
        elif isinstance(f.dataType, T.BooleanType):
            fields.append((f.name[:10], "L", 1, 0))
        else:
            fields.append((f.name[:10], "C", 64, 0))
    rows, geoms = [], []
    for r in df.collect():
        d = r.asDict()
        rows.append(tuple(d[f.name] for f in cols))
        wkb = d.get(geom_col)
        geoms.append(None if wkb is None else from_wkb(bytes(wkb)))
    TM.write_dataset(base, fields, rows, geoms)
