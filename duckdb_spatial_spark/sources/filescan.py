"""One file-per-task scan for the whole-file vector readers.

GeoJSON, KML, GPX, DXF, GML, TopoJSON and MVT are single-document formats:
a file cannot be split, so the scan unit is the file. Spark's built-in
``binaryFile`` source lists the files through the Hadoop FS layer (plain
paths, ``file://`` URIs and any other Hadoop scheme alike) and hands each
task whole ``(path, content)`` rows; one ``mapInPandas`` turns them into
features with the reader's own ``parse(path, data) -> rows``. This is the
reference's ST_Read shape — one table function, a parser picked per format
(st_read.cpp:105-240) — with no driver-side listing or shuffle.
"""

from __future__ import annotations

from typing import Callable, Iterator, List

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

Parse = Callable[[str, bytes], List[tuple]]


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
