"""The two scans behind the vector readers: one file per task, or one
driver-planned range per task.

GeoJSON, KML, GPX, DXF, GML, TopoJSON and MVT are single-document formats:
a file cannot be split, so the scan unit is the file. Spark's built-in
``binaryFile`` source lists the files through the Hadoop FS layer (plain
paths, ``file://`` URIs and any other Hadoop scheme alike) and hands each
task whole ``(path, content)`` rows; one ``mapInPandas`` turns them into
features with the reader's own ``parse(path, data) -> rows``. This is the
reference's ST_Read shape — one table function, a parser picked per format
(st_read.cpp:105-240) — with no driver-side listing or shuffle.

The split readers (FlatGeobuf, GeoPackage, OpenFileGDB, TAB, SpatiaLite,
Arrow IPC, MIF, shapefile, WARC, WebDataset, OSM PBF) instead plan ranges
on the driver from headers or footers — a feature span, a record-batch
span, a blob, a file — and :func:`scan_ranges` parses one range per task
(Arrow IPC maps its own loop over the same range table).

A reader plans its read as a :class:`Scan` without a SparkSession; the
same plan runs distributed through :func:`run` (``st_read``) or in this
process through :func:`rows` (the SQL ``ST_Read`` table function).
"""

from __future__ import annotations

import fnmatch
import os
import re
from dataclasses import dataclass
from pathlib import Path
from typing import Callable, Iterator, List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .tables import local_relation

Parse = Callable[[str, bytes], List[tuple]]

# Past this many ranges a task parses several: every task is a Python
# runner, and a range is already sized to be worth one.
_MAX_TASKS = 256


@dataclass(frozen=True)
class Scan:
    """One reader's read, planned without a session: rows of ``schema``
    from the reader's own ``parse``. The units are either ``ranges``
    (driver-planned tuples of the ``ddl`` columns, ``parse(*range)``) or
    the files of ``path`` (``parse(path, data)``), listed with the first
    of ``globs`` that matches a file (subdirectories too when
    ``recursive``)."""
    schema: T.StructType
    parse: Callable[..., List[tuple]]
    ranges: Optional[Sequence[tuple]] = None
    ddl: str = ""
    path: str = ""
    globs: Tuple[str, ...] = ()
    recursive: bool = False


def run(spark: SparkSession, scan: Scan, geom_col: str = "geom") -> DataFrame:
    """``scan`` as a distributed DataFrame: one task per range, or one
    binaryFile scan of the files; ``geom_col`` renames a file scan's
    ``geom`` column (range readers name it in their plan)."""
    if scan.ranges is not None:
        return scan_ranges(spark, scan.ranges, scan.ddl, scan.parse,
                           scan.schema)
    for g in scan.globs:
        files = binary_files(spark, scan.path, g, scan.recursive)
        if files.inputFiles():
            break
    return scan_files(files, scan.parse, scan.schema, geom_col)


def rows(scan: Scan) -> Iterator[tuple]:
    """``scan`` run in this process: the same ``parse`` over the same
    units, one after another, as tuples in schema field order."""
    if scan.ranges is not None:
        parsed = (r for rng in scan.ranges for r in scan.parse(*rng))
    else:
        parsed = (r for p in local_files(scan.path, scan.globs)
                  for r in scan.parse(p, Path(p).read_bytes()))
    names = scan.schema.fieldNames()
    for r in parsed:
        yield tuple(r.get(n) for n in names) if isinstance(r, dict) else tuple(r)


def local_files(path: str, globs: Sequence[str]) -> List[str]:
    """The local files :func:`binary_files` lists for ``path``: the file
    itself, or the files under the directory ``path`` whose names match
    the first of ``globs`` (Hadoop ``{a,b}`` alternatives allowed) that
    matches any; names starting with ``.`` or ``_`` are hidden, as in
    Spark's file listing."""
    local = os.path.abspath(path[5:] if path.startswith("file:") else path)
    if not os.path.exists(local):
        raise FileNotFoundError(path)
    if not os.path.isdir(local):
        return [local]
    listed = []
    for d, subdirs, names in os.walk(local):
        subdirs[:] = [s for s in subdirs if not s.startswith((".", "_"))]
        listed += [os.path.join(d, n) for n in names
                   if not n.startswith((".", "_"))]
    for g in globs:
        m = re.fullmatch(r"(.*)\{(.*)\}(.*)", g)
        pats = [m[1] + alt + m[3] for alt in m[2].split(",")] if m else [g]
        hit = sorted(p for p in listed if any(
            fnmatch.fnmatchcase(os.path.basename(p), pat) for pat in pats))
        if hit:
            return hit
    return []


def binary_files(spark: SparkSession, path: str, glob_filter: str,
                 recursive: bool = False) -> DataFrame:
    """``(path, content)`` rows of the file ``path``, or of the files in the
    directory ``path`` whose names match the Hadoop glob ``glob_filter``
    (e.g. ``*.{json,geojson}``; subdirectories too when ``recursive``). A
    glob ``path`` is expanded as given. Raises FileNotFoundError when
    ``path`` matches nothing; an empty directory gives zero rows."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    found = hpath.getFileSystem(
        spark._jsc.hadoopConfiguration()).globStatus(hpath)
    if not found:
        raise FileNotFoundError(path)
    reader = spark.read.format("binaryFile")
    # pathGlobFilter also drops a file named directly, so it applies to
    # directory listings only
    if len(found) == 1 and found[0].isDirectory():
        reader = reader.option("pathGlobFilter", glob_filter)
        if recursive:
            reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path).select("path", "content")


def scan_files(files: DataFrame, parse: Parse, schema: T.StructType,
               geom_col: str = "geom") -> DataFrame:
    """Parse each ``(path, content)`` row of ``files`` into ``schema`` rows.
    ``parse`` gets the path without the ``file:`` scheme Hadoop reports for
    local files, so ``source_file`` columns read like the path given. The
    ``geom`` column of ``schema`` is renamed to ``geom_col``."""
    cols = schema.fieldNames()

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [row for p, data in zip(pdf["path"], pdf["content"])
                    for row in parse(p[5:] if p.startswith("file:") else p,
                                     bytes(data))]
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    df = files.mapInPandas(scan, schema=schema)
    return df if geom_col == "geom" else df.withColumnRenamed("geom", geom_col)


def scan_ranges(spark: SparkSession, ranges: Sequence[tuple], ddl: str,
                parse: Callable[..., List[tuple]],
                schema) -> DataFrame:
    """Parse driver-planned ``ranges`` (tuples of the ``ddl`` columns) into
    rows of ``schema`` (a StructType or DDL string), one range per task:
    ``parse(*range)`` gets None for a NULL range value and returns the
    range's rows, as tuples in field order or dicts by field name. No
    ranges give an empty frame with ``schema``."""
    if not ranges:
        return local_relation(spark, [], schema)
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    cols = schema.fieldNames()

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.astype(object).where(pdf.notna(), None)
            for rng in pdf.itertuples(index=False, name=None):
                rows = parse(*rng[1:])
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return _range_table(spark, ranges, ddl).mapInPandas(scan, schema=schema)


def _range_table(spark: SparkSession, ranges: Sequence[tuple],
                 ddl: str) -> DataFrame:
    """``ranges`` as rows of ``__i int`` (the range index) and the ``ddl``
    columns, one range per task up to ``_MAX_TASKS``. The scan of a
    LocalRelation runs min(rows, cores) tasks, and a round-robin from each
    lands at a random start, so two ranges can share a task; range
    partitioning on the range index gives each range its own task."""
    table = local_relation(spark, [(i,) + tuple(r) for i, r in
                                   enumerate(ranges)], "__i int, " + ddl)
    return table.repartitionByRange(min(len(ranges), _MAX_TASKS), "__i")
