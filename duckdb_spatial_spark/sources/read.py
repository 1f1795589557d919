"""File sources — the Spark analog of ST_Read / ST_Read_Meta / ST_Drivers /
replacement scans (SURVEY §2.A).

Tiering:
* **native formats** (no external libs): parquet / geoparquet (WKB geometry
  column), csv (+WKT column), json, orc — straight ``spark.read`` with
  geometry post-processing.
* **GeoJSON** — own distributed reader: one task per file through the
  shared ``binaryFile`` scan (sources/filescan.py; the reference's
  ``st_read.cpp:105-240`` bind + per-thread scan shape).
* **Shapefile** (.shp/.dbf, sources/shapefile.py), **GeoPackage**
  (stdlib sqlite3, sources/gpkg.py, rowid-range parallel scan with bbox +
  column pushdown), **FlatGeobuf** (hand-rolled flatbuffers codec,
  sources/fgb.py, R-tree-leaf-offset parallel scan), **KML/KMZ** (stdlib
  ElementTree, sources/kml.py), and **zip containers** ('x.zip/inner.shp',
  the /vsizip/ analog) — all native.
* **OSM PBF** — fixed 8-column schema (st_read_osm.cpp:39-90), hand-rolled
  protobuf wire codec, one executor task per OSMData blob (geom/pbf.py).
* **XLSX** — stdlib zip+XML sheet reader (sources/xlsx.py).
* **GML 2/3** — stdlib XML reader (sources/gml.py).
* **OpenFileGDB** (.gdb) — native .gdbtable/.gdbtablx codec
  (geom/gdbtable.py), rowid-range parallel scan (sources/gdb.py).
* **remaining OGR formats** (MapInfo TAB, …) — require ``pyogrio``, gated
  behind an import-try with a clear error. The dispatch plumbing
  (layer/columns/bbox/spatial_filter options) is real.

``read(spark, path)`` is the replacement-scan analog: extension dispatch
(st_read.cpp:538-545).
"""

from __future__ import annotations

import contextlib
import gzip
import json
import os
from typing import Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom.geojson import geojson_to_geometry
from ..geom.wkb import to_wkb
from . import (dxf, fgb, gdb, gml, gpkg, gpx, kml, mif, mvt, shapefile,
               spatialite, tab, topojson)
from .filescan import Scan, rows, run
from .tables import local_relation

# fixed ST_ReadOSM output schema (st_read_osm.cpp:39-90)
OSM_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),        # node|way|relation|changeset
        T.StructField("id", T.LongType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("refs", T.ArrayType(T.LongType())),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("ref_roles", T.ArrayType(T.StringType())),
        T.StructField("ref_types", T.ArrayType(T.StringType())),
    ]
)

#: ST_Drivers rows (st_drivers.cpp) of the native format drivers
DRIVERS = [
    ("parquet", "Apache Parquet (+GeoParquet WKB)", True, True, True),
    ("csv", "CSV (+WKT geometry column)", True, True, True),
    ("json", "JSON lines", True, True, True),
    ("orc", "Apache ORC", True, True, True),
    ("geojson", "GeoJSON FeatureCollection", True, True, True),
    ("osm.pbf", "OpenStreetMap PBF (native protobuf decoder)", True, False, False),
    ("gpkg", "GeoPackage (native stdlib-sqlite reader/writer)", True, True, True),
    ("kml", "KML / KMZ (native XML reader/writer)", True, True, True),
    ("fgb", "FlatGeobuf (native flatbuffers codec)", True, True, True),
    ("gdb", "ESRI OpenFileGDB (native .gdbtable codec)", True, True, False),
    ("mif", "MapInfo Interchange MIF/MID (native text codec)", True, True, True),
    ("tab", "MapInfo TAB (native .map/.id/.dat binary codec)", True, True, True),
    ("gpx", "GPS Exchange GPX 1.1 (native XML, OGR 5-layer model)", True, True, True),
    ("arrow", "Apache Arrow IPC / Feather V2 (batch-range parallel scan, distributed sink)", True, True, True),
    ("sqlite", "SpatiaLite (native BLOB-geometry codec, stdlib sqlite3)", True, True, True),
    ("dxf", "AutoCAD DXF (native group-code parser: POINT/LINE/LWPOLYLINE/POLYLINE/CIRCLE/ARC)", True, True, True),
    ("mvt", "Mapbox Vector Tiles 2.1 (native protobuf codec; .mvt / .vector.pbf, gzip-transparent)", True, True, True),
    ("topojson", "TopoJSON (native arc-topology decoder; read-only like OGR's driver)", True, False, False),
    ("xlsx", "Office Open XML spreadsheet (native zip+XML reader)", True, False, True),
    ("gml", "GML 2/3 (native XML reader)", True, False, True),
    ("zip", "Zip containers (/vsizip/ analog: x.zip/inner.shp)", True, False, False),
    ("shp", "ESRI Shapefile (native codec)", True, True, True),
]
DRIVERS_DDL = ("short_name string, description string, "
               "can_open boolean, can_create boolean, can_copy boolean")


def _has_ogr() -> bool:
    try:
        import pyogrio  # noqa: F401
    except ImportError:
        return False
    return True


def driver_rows() -> List[tuple]:
    """:data:`DRIVERS` and the row of the optional pyogrio gate."""
    ogr = _has_ogr()
    return DRIVERS + [("ogr", "OGR formats via pyogrio ("
                       f"{'available' if ogr else 'NOT INSTALLED'})",
                       ogr, False, ogr)]


def st_drivers(spark: SparkSession) -> DataFrame:
    """Supported format drivers (analog of ST_Drivers, st_drivers.cpp)."""
    return local_relation(spark, driver_rows(), DRIVERS_DDL)


GEOJSON_SCHEMA = T.StructType(
    [
        T.StructField("geom", T.BinaryType()),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        T.StructField("source_file", T.StringType()),
    ]
)


def _parse_geojson(p: str, data: bytes) -> List[tuple]:
    # transparent gzip — the /vsigzip/ analog (gdal_vsi.test)
    if p.endswith(".gz"):
        data = gzip.decompress(data)
    txt = data.decode("utf-8").strip()
    try:
        obj = json.loads(txt)
        t = obj.get("type")
        if t == "FeatureCollection":
            feats = obj.get("features", [])
        elif t == "Feature":
            feats = [obj]
        else:
            feats = [{"type": "Feature", "geometry": obj, "properties": {}}]
    except json.JSONDecodeError:  # newline-delimited features
        feats = [json.loads(line) for line in txt.splitlines() if line.strip()]
    rows = []
    for ft in feats:
        geom = ft.get("geometry")
        props = ft.get("properties") or {}
        rows.append((
            to_wkb(geojson_to_geometry(geom)) if geom else None,
            {str(k): (json.dumps(v) if isinstance(v, (dict, list)) else str(v))
             for k, v in props.items()},
            p,
        ))
    return rows


def geojson_scan(path: str) -> Scan:
    # the distributed geojson sink emits newline-delimited features as
    # Spark text part files (part-*.txt): a directory without *.json /
    # *.geojson files reads those, so a sink directory roundtrips
    return Scan(GEOJSON_SCHEMA, _parse_geojson, path=path,
                globs=("*.{json,geojson}", "part-*"), recursive=True)


def read_geojson(spark: SparkSession, path: str) -> DataFrame:
    """Distributed GeoJSON reader: each task parses its files
    (FeatureCollection | single Feature | bare geometry | newline-delimited
    features). A directory is scanned recursively for ``*.json`` /
    ``*.geojson``, else for the ``part-*`` files of the geojson sink."""
    return run(spark, geojson_scan(path))


def osm_scan(path: str) -> Scan:
    """Bind: the file's blob directory — 4-byte lengths + BlobHeaders only,
    no decompression. Scan: one range per OSMData blob, zlib + hand-rolled
    protobuf wire decode (the parallel block scan of st_read_osm.cpp:169;
    decoder in ..geom.pbf)."""
    from ..geom import pbf as PBF

    blobs = [(path, off, size) for btype, off, size in PBF.scan_blobs(path)
             if btype == "OSMData"]
    return Scan(OSM_SCHEMA, PBF.read_blob_rows, ranges=blobs,
                ddl="path string, offset long, size long")


def st_read_osm(spark: SparkSession, path: str) -> DataFrame:
    """OSM PBF reader — fixed 8-column schema (st_read_osm.cpp:39-90), one
    task per OSMData blob."""
    return run(spark, osm_scan(path))


_LAYERED = ("layer", "columns", "bbox", "geom_col")
_PUSHED = ("columns", "bbox", "geom_col")

#: The native readers, one per format: (extensions, DataFrame reader,
#: session-free Scan plan, the st_read options the reader applies itself).
#: st_read runs the reader and applies the other options after it; the SQL
#: ST_Read runs the plan in process with ``layer`` only. A .sqlite / .db
#: file is sniffed as SpatiaLite or GeoPackage.
_NATIVE = {
    "osm": ((".osm.pbf",), st_read_osm, osm_scan, ()),
    "gdb": ((".gdb",), gdb.st_read_gdb, gdb.gdb_scan, _LAYERED),
    "geojson": ((".geojson", ".geojson.gz", ".json.gz", ".geojsonl",
                 ".geojsons"), read_geojson, geojson_scan, ()),
    "shp": ((".shp",), shapefile.st_read_shp, shapefile.shp_scan,
            ("geom_col",)),
    "gpkg": ((".gpkg",), gpkg.st_read_gpkg, gpkg.gpkg_scan, _LAYERED),
    "spatialite": ((), spatialite.st_read_spatialite,
                   spatialite.spatialite_scan, _LAYERED),
    "kml": ((".kml",), kml.st_read_kml, kml.kml_scan, ("geom_col",)),
    "gml": ((".gml",), gml.st_read_gml, gml.gml_scan, ("geom_col",)),
    "topojson": ((".topojson",), topojson.st_read_topojson,
                 topojson.topojson_scan, ("layer", "geom_col")),
    "dxf": ((".dxf",), dxf.st_read_dxf, dxf.dxf_scan, ("geom_col",)),
    "mvt": ((".mvt", ".vector.pbf"), mvt.st_read_mvt, mvt.mvt_scan,
            ("layer", "geom_col")),
    "gpx": ((".gpx",), gpx.st_read_gpx, gpx.gpx_scan, ("layer", "geom_col")),
    "mif": ((".mif",), mif.st_read_mif, mif.mif_scan, ("geom_col",)),
    "tab": ((".tab",), tab.st_read_tab, tab.tab_scan, _PUSHED),
    "fgb": ((".fgb",), fgb.st_read_fgb, fgb.fgb_scan, _PUSHED),
}


def _native_reader(path: str, wkt_col: Optional[str] = None):
    """``(read, plan, options)`` of the native reader for ``path``, or
    None. A ``.json`` file is GeoJSON when its head says so and no
    ``wkt_col`` asks for JSON lines."""
    low = path.lower().rstrip("/")
    if low.endswith((".sqlite", ".db")):
        fmt = "spatialite" if spatialite.is_spatialite(path) else "gpkg"
    elif low.endswith(".json") and wkt_col is None and _looks_geojson(path):
        fmt = "geojson"
    else:
        fmt = next((f for f, r in _NATIVE.items() if low.endswith(r[0])),
                   None)
    return None if fmt is None else _NATIVE[fmt][1:]


def _is_container(path: str) -> bool:
    low = path.lower()
    return low.endswith((".zip", ".kmz")) or ".zip/" in low


def _unzip(path: str, tmpd: Optional[str] = None) -> str:
    """``path``, or for a zip container (the reference's /vsizip/ paths,
    st_read.cpp: 'x.zip', 'x.zip/inner.shp', or 'x.kmz', zipped KML) the
    inner file, extracted to ``tmpd`` or else a new ``dss_zip_*`` temp
    dir. (On a multi-node cluster the extraction directory must be on a
    shared filesystem.)"""
    if not _is_container(path):
        return path
    import tempfile
    import zipfile

    low = path.lower()
    if ".zip/" in low:
        idx = low.index(".zip/") + 4
        zpath, inner = path[:idx], path[idx + 1:]
    else:
        zpath, inner = path, None
    tmpd = tmpd or tempfile.mkdtemp(prefix="dss_zip_")
    with zipfile.ZipFile(zpath) as zf:
        zf.extractall(tmpd)
        names = zf.namelist()
    if inner is None:
        if low.endswith(".kmz"):
            cand = [n for n in names if n.lower().endswith(".kml")]
        else:
            cand = [n for n in names
                    if n.lower().endswith((".shp", ".gpkg", ".kml", ".fgb",
                                           ".geojson", ".json", ".csv",
                                           ".parquet"))]
        if len(cand) != 1:
            raise ValueError(
                f"{path}: specify the inner file ('{path}/<name>'); "
                f"candidates: {cand}"
            )
        inner = cand[0]
    return os.path.join(tmpd, inner)


def st_read(
    spark: SparkSession,
    path: str,
    layer: Optional[str] = None,
    columns: Optional[List[str]] = None,
    bbox: Optional[tuple] = None,
    geom_col: str = "geom",
    wkt_col: Optional[str] = None,
    keep_wkb: bool = True,
    spatial_filter: Optional[bytes] = None,
    max_threads: Optional[int] = None,
    sequential_layer_scan: bool = False,
    max_batch_size: Optional[int] = None,
) -> DataFrame:
    """ST_Read analog with extension dispatch (replacement scan,
    st_read.cpp:538-545). ``columns``/``bbox`` are the projection/spatial
    pushdown options; ``spatial_filter`` takes a WKB geometry and keeps
    only intersecting rows (bbox prefilter + exact predicate), mirroring
    the reference's spatial_filter option (st_read.cpp:153-240).

    Scan-tuning options (st_read.cpp:153-240 parity):

    * ``max_threads`` — caps reader-task concurrency with a NARROW
      coalesce (no shuffle: at most N tasks execute the scan), the
      Spark analog of the reference's GDAL reader-thread cap;
    * ``sequential_layer_scan`` — one in-order scan task (coalesce(1)),
      the analog of iterating features sequentially instead of a
      parallel random-access scan;
    * ``max_batch_size`` — validated for option-surface compatibility
      but a documented no-op: Spark's Arrow batch config owns
      vectorized batch sizing
      (``spark.sql.execution.arrow.maxRecordsPerBatch``).
    """
    if max_threads is not None and (
            not isinstance(max_threads, int) or max_threads <= 0):
        raise ValueError(f"st_read: max_threads must be a positive int, "
                         f"got {max_threads!r}")
    if max_batch_size is not None and (
            not isinstance(max_batch_size, int) or max_batch_size <= 0):
        raise ValueError(f"st_read: max_batch_size must be a positive int, "
                         f"got {max_batch_size!r}")
    df = _st_read_dispatch(spark, path, layer=layer, columns=columns,
                           bbox=bbox, geom_col=geom_col, wkt_col=wkt_col,
                           keep_wkb=keep_wkb, spatial_filter=spatial_filter)
    if sequential_layer_scan:
        return df.coalesce(1)
    if max_threads is not None:
        return df.coalesce(max_threads)
    return df


def _st_read_dispatch(
    spark: SparkSession,
    path: str,
    layer: Optional[str] = None,
    columns: Optional[List[str]] = None,
    bbox: Optional[tuple] = None,
    geom_col: str = "geom",
    wkt_col: Optional[str] = None,
    keep_wkb: bool = True,
    spatial_filter: Optional[bytes] = None,
) -> DataFrame:
    if spatial_filter is not None:
        from ..geom.wkb import from_wkb as _fw

        g = _fw(bytes(spatial_filter))
        fb = g.bounds()
        df = st_read(spark, path, layer=layer, columns=columns,
                     bbox=tuple(fb) if fb else None, geom_col=geom_col,
                     wkt_col=wkt_col, keep_wkb=keep_wkb)
        from ..functions import scalar as S
        from pyspark.sql import functions as _F

        return df.filter(S.st_intersects(_F.col(geom_col),
                                         _F.lit(bytes(spatial_filter))))
    # The extraction dir stays: the lazy frame re-reads its files on every
    # action, and no hook runs when the last action is done.
    inner = _unzip(path)
    if inner != path:
        return st_read(spark, inner, layer=layer, columns=columns, bbox=bbox,
                       geom_col=geom_col, wkt_col=wkt_col, keep_wkb=keep_wkb)
    low = path.lower()
    reader = _native_reader(path, wkt_col)
    if reader is not None:
        read_fn, _plan, takes = reader
        opts = {"layer": layer, "columns": columns, "bbox": bbox,
                "geom_col": geom_col}
        df = read_fn(spark, path, **{k: v for k, v in opts.items()
                                     if k in takes and v is not None})
        # pushed into the reader's scan
        columns = None if "columns" in takes else columns
        bbox = None if "bbox" in takes else bbox
    elif low.endswith((".parquet", ".pq")) or (
            # extension-less directory → parquet dataset; a directory whose
            # NAME carries a format extension (x.csv/x.arrow part
            # directories from the distributed sinks) must fall through to
            # that format's reader, not be force-read as parquet
            os.path.isdir(path)
            and not low.rstrip("/").endswith((
                ".csv", ".json", ".ndjson", ".jsonl", ".orc", ".arrow",
                ".feather", ".ipc"))):
        from .geoparquet import geoparquet_meta

        df = spark.read.parquet(path)
        gm = geoparquet_meta(path)
        if geom_col not in df.columns:
            # GeoParquet 'geo' footer names the primary geometry column —
            # surface it under the requested geom_col
            if gm and gm.get("primary_column") in df.columns:
                df = df.withColumnRenamed(gm["primary_column"], geom_col)
        if bbox is not None and gm:
            # GeoParquet 1.1 bbox covering: the spatial window becomes
            # four plain double comparisons that Spark pushes into the
            # parquet scan (PushedFilters on bbox.* → row-group min/max
            # pruning) — zero geometry decode on pruned groups
            cov = (gm.get("columns", {})
                   .get(gm.get("primary_column", geom_col), {})
                   .get("covering", {}).get("bbox"))
            if cov:
                bcol = cov["xmin"][0]
                if bcol in df.columns:
                    qxmin, qymin, qxmax, qymax = bbox
                    df = df.filter(
                        (F.col(f"{bcol}.{cov['xmin'][1]}") <= qxmax)
                        & (F.col(f"{bcol}.{cov['xmax'][1]}") >= qxmin)
                        & (F.col(f"{bcol}.{cov['ymin'][1]}") <= qymax)
                        & (F.col(f"{bcol}.{cov['ymax'][1]}") >= qymin)
                    ).drop(bcol)
                    bbox = None  # consumed — skip the st_extent fallback
    elif low.endswith(".csv"):
        df = spark.read.csv(path, header=True, inferSchema=True)
    elif low.endswith((".json", ".ndjson", ".jsonl")):
        df = spark.read.json(path)
    elif low.endswith(".orc"):
        df = spark.read.orc(path)
    elif low.endswith((".arrow", ".feather", ".ipc")):
        from .arrow import st_read_arrow

        df = st_read_arrow(spark, path, columns=columns)
        columns = None  # pushdown already applied inside the scan
    elif low.endswith((".xlsx",)):
        from .xlsx import st_read_xlsx

        df = st_read_xlsx(spark, path, sheet=layer, wkt_col=wkt_col,
                          geom_col=geom_col)
        wkt_col = None  # already applied
    elif not _has_ogr():
        # GDAL long tail (S-57, DGN, TIGER, GMT, …): every extension
        # without a native driver falls through to the optional pyogrio
        # gate — the analog of the reference linking GDAL for formats it
        # has no specialized path for (docs/internals.md:25-78).
        raise NotImplementedError(
            f"no native driver for {os.path.splitext(path)[1] or path!r} "
            "and pyogrio (the optional GDAL long-tail gate) is not "
            "installed; see st_drivers() for the 23 native formats"
        )
    else:
        return _st_read_ogr(spark, path, layer, columns, bbox, geom_col)

    if wkt_col is not None:
        from ..functions import scalar as S

        df = df.withColumn(geom_col, S.st_geomfromtext(wkt_col))
    if columns:
        keep = [c for c in columns if c in df.columns]
        if geom_col in df.columns and geom_col not in keep:
            keep.append(geom_col)
        df = df.select(*keep)
    if bbox is not None and geom_col in df.columns:
        from ..functions import scalar as S

        b = S.st_extent(geom_col)
        xmin, ymin, xmax, ymax = bbox
        df = df.filter(
            (b["xmin"] <= xmax) & (b["xmax"] >= xmin)
            & (b["ymin"] <= ymax) & (b["ymax"] >= ymin)
        )
    return df


def _looks_geojson(path: str) -> bool:
    try:
        with open(path) as fh:
            head = fh.read(512)
        return '"FeatureCollection"' in head or '"Feature"' in head or '"coordinates"' in head
    except OSError:
        return False


def _st_read_ogr(spark, path, layer, columns, bbox, geom_col):  # pragma: no cover
    import pyogrio

    info = pyogrio.read_info(path, layer=layer)
    tbl = pyogrio.raw.read_arrow(
        path, layer=layer, columns=columns, bbox=bbox
    )
    tbl = tbl[1] if isinstance(tbl, tuple) else tbl
    return spark.createDataFrame(tbl.rename_columns(
        [geom_col if c == "wkb_geometry" else c for c in tbl.column_names]))


def st_read_meta(spark: SparkSession, path: str) -> DataFrame:
    """ST_Read_Meta analog: per-file metadata (st_read_meta.cpp:65-86)."""
    import pyarrow.parquet as pq

    low = path.lower()
    if low.endswith((".parquet", ".pq")):
        md = pq.read_metadata(path)
        sch = pq.read_schema(path)
        from .geoparquet import geoparquet_meta

        gm = geoparquet_meta(path)
        schema_info = {n: str(sch.field(n).type) for n in sch.names}
        if gm:
            schema_info["geo"] = gm
        rows = [
            (
                path, "geoparquet" if gm else "parquet",
                md.num_rows, md.num_row_groups,
                json.dumps(schema_info),
            )
        ]
    elif low.endswith((".geojson", ".json")):
        with open(path) as fh:
            obj = json.load(fh)
        feats = obj.get("features", []) if obj.get("type") == "FeatureCollection" else [obj]
        rows = [(path, "geojson", len(feats), 1, json.dumps({"geom": "geometry"}))]
    elif low.endswith(".gpkg"):
        from .gpkg import gpkg_layers

        rows = [
            (path, "gpkg", None, len(gpkg_layers(path)),
             json.dumps(gpkg_layers(path), default=str))
        ]
    elif low.endswith(".fgb"):
        from .fgb import _read_header

        hdr, _idx, _ds = _read_header(path)
        rows = [(path, "fgb", hdr["features_count"], 1,
                 json.dumps({k: v for k, v in hdr.items()
                             if k != "columns"} | {
                    "columns": [c["name"] for c in hdr["columns"]]},
                    default=str))]
    elif low.endswith(".kml"):
        from .kml import parse_kml_bytes

        with open(path, "rb") as fh:
            n = len(parse_kml_bytes(fh.read(), path))
        rows = [(path, "kml", n, 1, json.dumps({"geom": "kml"}))]
    elif low.rstrip("/").endswith(".gdb"):
        from ..geom import gdbtable as GT
        from .gdb import gdb_layers

        p = path.rstrip("/")
        layers = gdb_layers(p)
        total = 0
        metas = []
        for rid, name in GT.read_catalog(p):
            if name not in layers:
                continue
            n, fields = GT.read_header_and_fields(
                GT.table_file(p, rid) + ".gdbtable")
            total += n
            metas.append({"layer": name,
                          "fields": [f.name for f in fields], "rows": n})
        rows = [(path, "gdb", total, len(layers),
                 json.dumps(metas, default=str))]
    elif low.endswith(".tab"):
        from .tab import _dat_header

        base = os.path.splitext(path)[0]
        fields, nrec, *_ = _dat_header(base + ".dat")
        rows = [(path, "tab", nrec, 1,
                 json.dumps({"fields": [f[0] for f in fields]}))]
    elif low.endswith(".shp"):
        size = os.path.getsize(path)
        rows = [(path, "shp", None, 1, json.dumps({"bytes": size}))]
    elif low.endswith(".gpx"):
        from .gpx import GPX_LAYERS, parse_gpx_bytes

        with open(path, "rb") as fh:
            data = fh.read()
        counts = {ly: len(parse_gpx_bytes(data, path, ly)) for ly in GPX_LAYERS}
        rows = [(path, "gpx", counts["waypoints"] + counts["routes"]
                 + counts["tracks"], len(GPX_LAYERS),
                 json.dumps(counts))]
    elif low.endswith((".arrow", ".feather", ".ipc")):
        import pyarrow.ipc as _ipc

        with _ipc.open_file(path) as rd:
            sch = rd.schema
            rows = [(path, "arrow", None, rd.num_record_batches,
                     json.dumps({n: str(sch.field(n).type)
                                 for n in sch.names}))]
    elif low.endswith((".sqlite", ".db")):
        from .spatialite import is_spatialite, spatialite_layers

        if is_spatialite(path):
            layers = spatialite_layers(path)
            rows = [(path, "spatialite", None, len(layers),
                     json.dumps(layers, default=str))]
        else:
            from .gpkg import gpkg_layers

            rows = [(path, "gpkg", None, len(gpkg_layers(path)),
                     json.dumps(gpkg_layers(path), default=str))]
    else:
        size = os.path.getsize(path)
        rows = [(path, os.path.splitext(path)[1].lstrip("."), None, None, json.dumps({"bytes": size}))]
    return local_relation(
        spark, rows, "path string, driver string, num_rows long, "
        "num_row_groups long, schema_json string")


def read(spark: SparkSession, path: str, **opts) -> DataFrame:
    """Replacement-scan entry point: ``read(spark, 'x.geojson')`` routes by
    extension exactly like bare ``SELECT * FROM 'x.shp'`` in the reference."""
    return st_read(spark, path, **opts)


def _opt_bool(v) -> bool:
    """GDAL-style boolean creation-option values: YES/NO/TRUE/FALSE/ON/OFF
    (case-insensitive) or a real bool."""
    if isinstance(v, bool):
        return v
    s = str(v).strip().upper()
    if s in ("YES", "TRUE", "ON", "1"):
        return True
    if s in ("NO", "FALSE", "OFF", "0"):
        return False
    raise ValueError(f"invalid boolean creation-option value {v!r} "
                     "(expected YES/NO/TRUE/FALSE/ON/OFF)")


#: GDAL-style creation options per sink → (sink kwarg, coercion). The
#: validation contract mirrors the reference's option parsing
#: (st_write.cpp:60-172: LAYER_CREATION_OPTIONS / SRS parsed by name,
#: anything unknown is an error, values type-checked).
_WRITE_OPTIONS: dict = {
    "parquet": {"COMPRESSION": ("__writer_compression", str)},
    "orc": {"COMPRESSION": ("__writer_compression", str)},
    "csv": {"COMPRESSION": ("__writer_compression", str)},
    "geojson": {},
    "geoparquet": {"SRS": ("crs", str),
                   "COVERING_BBOX": ("covering", _opt_bool),
                   "ROW_GROUP_SIZE": ("row_group_size", int)},
    "shp": {},
    "gpkg": {"LAYER_NAME": ("layer", str), "SRID": ("srs_id", int),
             "MAX_BYTES": ("max_bytes", int)},
    "kml": {"NAME_FIELD": ("name_col", str), "MAX_BYTES": ("max_bytes", int)},
    "fgb": {"LAYER_NAME": ("layer", str), "MAX_BYTES": ("max_bytes", int)},
    "gdb": {"LAYER_NAME": ("layer", str)},
    "mif": {},
    "tab": {},
    "gpx": {"NAME_FIELD": ("name_col", str), "MAX_BYTES": ("max_bytes", int)},
    "arrow": {"COMPRESSION": ("compression", str)},
    "sqlite": {"LAYER_NAME": ("layer", str), "SRID": ("srid", int),
               "MAX_BYTES": ("max_bytes", int)},
    "dxf": {"LAYER_FIELD": ("layer_col", str),
            "MAX_BYTES": ("max_bytes", int)},
    "mvt": {"LAYER_NAME": ("layer", str), "EXTENT": ("extent", int)},
}
_WRITE_OPTIONS["pq"] = _WRITE_OPTIONS["parquet"]
_WRITE_OPTIONS["feather"] = _WRITE_OPTIONS["ipc"] = _WRITE_OPTIONS["arrow"]
_WRITE_OPTIONS["spatialite"] = _WRITE_OPTIONS["sqlite"]


def _resolve_write_options(fmt: str, options: Optional[dict]) -> dict:
    """Validate GDAL-style creation options for ``fmt`` and map them to
    the native sink's kwargs; unknown names raise with the valid list
    (the st_write.cpp:60-172 shape)."""
    table = _WRITE_OPTIONS.get(fmt, {})
    kwargs: dict = {}
    for name, value in (options or {}).items():
        spec = table.get(str(name).upper())
        if spec is None:
            valid = ", ".join(sorted(table)) or "(none)"
            raise ValueError(
                f"unknown creation option {name!r} for format {fmt!r}; "
                f"valid options: {valid}")
        kwarg, coerce = spec
        kwargs[kwarg] = coerce(value)
    return kwargs


def st_write(
    df: DataFrame,
    path: str,
    fmt: Optional[str] = None,
    geom_col: str = "geom",
    mode: str = "overwrite",
    single_file: bool = False,
    options: Optional[dict] = None,
) -> None:
    """COPY … (FORMAT GDAL) analog (st_write.cpp:559-570). Native sinks:
    parquet (geometry stays WKB — GeoParquet-style), csv (geometry → WKT),
    geojson (FeatureCollection per partition, or single file with
    ``single_file=True`` mirroring the reference's single-writer Sink).

    ``options`` takes GDAL-style creation options (the reference's
    LAYER_CREATION_OPTIONS / SRS surface, st_write.cpp:60-172): names are
    case-insensitive, validated per format, and mapped onto the native
    sink's knobs — e.g. ``{"LAYER_NAME": "roads"}`` for gpkg/fgb/gdb/mvt,
    ``{"SRS": "EPSG:4326", "ROW_GROUP_SIZE": 1000}`` for geoparquet,
    ``{"COMPRESSION": "zstd"}`` for parquet/orc/csv/arrow. Unknown names
    raise ValueError listing the valid set."""
    fmt = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
    sink_kw = _resolve_write_options(fmt, options)
    compression = sink_kw.pop("__writer_compression", None)
    if fmt in ("parquet", "pq"):
        w = df.write.mode(mode)
        if compression:
            w = w.option("compression", compression)
        w.parquet(path)
        return
    if fmt == "geoparquet":
        from .geoparquet import st_write_geoparquet

        st_write_geoparquet(df, path, geom_col=geom_col, **sink_kw)
        return
    if fmt == "orc":
        w = df.write.mode(mode)
        if compression:
            w = w.option("compression", compression)
        w.orc(path)
        return
    if fmt == "csv":
        from ..functions import scalar as S

        out = df
        if geom_col in df.columns and isinstance(df.schema[geom_col].dataType, T.BinaryType):
            out = df.withColumn(geom_col, S.st_astext(geom_col))
        w = out.write.mode(mode).option("header", "true")
        if compression:
            w = w.option("compression", compression)
        w.csv(path)
        return
    if fmt == "geojson":
        from ..functions import scalar as S

        src = df
        if single_file:
            src = src.coalesce(1)
        gj = src.withColumn("__gj", S.st_asgeojson(geom_col))
        other_cols = [c for c in df.columns if c != geom_col]

        def to_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                feats = []
                for _, row in pdf.iterrows():
                    props = {c: row[c] for c in other_cols}
                    feats.append(
                        json.dumps(
                            {
                                "type": "Feature",
                                "geometry": json.loads(row["__gj"]) if row["__gj"] else None,
                                "properties": {k: (None if pd.isna(v) else v) for k, v in props.items()},
                            },
                            default=str,
                        )
                    )
                yield pd.DataFrame({"line": feats})

        gj.mapInPandas(to_features, schema="line string").write.mode(mode).text(path)
        return
    if fmt == "shp":
        from .shapefile import st_write_shp

        st_write_shp(df, path, geom_col=geom_col, **sink_kw)
        return
    if fmt == "gpkg":
        from .gpkg import st_write_gpkg

        st_write_gpkg(df, path, geom_col=geom_col, **sink_kw)
        return
    if fmt == "kml":
        from .kml import st_write_kml

        st_write_kml(df, path, geom_col=geom_col, **sink_kw)
        return
    if fmt == "fgb":
        from .fgb import st_write_fgb

        st_write_fgb(df, path, geom_col=geom_col, **sink_kw)
        return
    if fmt == "gdb":
        from .gdb import st_write_gdb

        st_write_gdb(df, path, geom_col=geom_col, **sink_kw)
        return
    if fmt == "mif":
        from .mif import st_write_mif

        st_write_mif(df, path, geom_col=geom_col, **sink_kw)
        return
    if fmt == "tab":
        from .tab import st_write_tab

        st_write_tab(df, path, geom_col=geom_col, **sink_kw)
        return
    if fmt == "gpx":
        from .gpx import st_write_gpx

        st_write_gpx(df, path, geom_col=geom_col, **sink_kw)
        return
    if fmt in ("arrow", "feather", "ipc"):
        from .arrow import st_write_arrow

        st_write_arrow(df, path, **sink_kw)
        return
    if fmt in ("sqlite", "spatialite"):
        from .spatialite import st_write_spatialite

        st_write_spatialite(df, path, geom_col=geom_col, **sink_kw)
        return
    if fmt == "dxf":
        from .dxf import st_write_dxf

        st_write_dxf(df, path, geom_col=geom_col, **sink_kw)
        return
    if fmt == "mvt":
        from .mvt import st_write_mvt

        st_write_mvt(df, path, geom_col=geom_col, **sink_kw)
        return
    raise NotImplementedError(f"st_write format {fmt!r}; OGR formats need pyogrio")


def st_list_proj_crs(spark: SparkSession) -> DataFrame:
    """Table function listing projectable CRS (ST_List_Proj_CRS,
    proj/functions.cpp). Native registry always; plus the full pyproj CRS
    database when that library is present."""
    from ..geom.proj import list_native_crs

    rows = [r + ("native",) for r in list_native_crs()]
    try:
        import pyproj

        for crs in pyproj.database.query_crs_info():
            rows.append((crs.auth_name, int(crs.code), crs.name,
                         str(crs.type), "", "pyproj"))
    except ImportError:
        pass
    return local_relation(
        spark, rows, "auth_name string, code long, name string, kind string, "
        "projection string, engine string")


# ------------------------------------------------------------- local rows

_ARROW_TO_SPARK = {
    "int8": T.LongType(), "int16": T.LongType(), "int32": T.LongType(),
    "int64": T.LongType(), "uint8": T.LongType(), "uint16": T.LongType(),
    "uint32": T.LongType(), "uint64": T.LongType(),
    "float": T.DoubleType(), "double": T.DoubleType(),
    "string": T.StringType(), "large_string": T.StringType(),
    "binary": T.BinaryType(), "large_binary": T.BinaryType(),
    "bool": T.BooleanType(),
}


@contextlib.contextmanager
def _extracted(path: str):
    """``path``, or a zip container's inner file extracted into a temp
    dir that is removed when the ``with`` block ends."""
    if not _is_container(path):
        yield path
        return
    import tempfile

    with tempfile.TemporaryDirectory(prefix="dss_zip_") as tmpd:
        yield _unzip(path, tmpd)


def _local_scan(path: str, layer: Optional[str]):
    """``(StructType, row iterator)`` of an unzipped ``path`` read in this
    process: a native reader runs the same Scan that ``st_read`` runs, one
    unit after another; Parquet reads through pyarrow."""
    reader = _native_reader(path)
    if reader is not None:
        _read, plan, takes = reader
        scan = plan(path, **({"layer": layer} if layer is not None
                             and "layer" in takes else {}))
        return scan.schema, rows(scan)
    if path.lower().endswith((".parquet", ".pq")):
        import pyarrow.dataset as pads

        data = pads.dataset(path, format="parquet")
        fields = [
            T.StructField(f.name,
                          _ARROW_TO_SPARK.get(str(f.type), T.StringType()))
            for f in data.schema
        ]
        return T.StructType(fields), (
            tuple(rec.values()) for batch in data.to_batches()
            for rec in batch.to_pylist())
    raise NotImplementedError(
        f"SQL ST_Read reads the native formats and Parquet; read {path!r} "
        "with st_read(spark, path)")


def local_read_schema(path: str, layer: Optional[str] = None) -> T.StructType:
    """Session-free schema of ``path``: what the SQL table functions'
    ``analyze`` returns (``SELECT * FROM ST_Read('x.gpkg')``,
    st_read.cpp:538-545's replacement scan made SQL-callable). A zip
    container is extracted for the call and removed after it."""
    with _extracted(path) as p:
        return _local_scan(p, layer)[0]


def local_read_rows(path: str, layer: Optional[str] = None) -> Iterator[tuple]:
    """The rows of ``path`` read in this process, lazily: what the SQL
    table functions' ``eval`` yields on an executor with no SparkSession.
    A zip container is extracted on the first row and removed once the
    rows are exhausted (or the iterator is closed)."""
    with _extracted(path) as p:
        yield from _local_scan(p, layer)[1]
