"""Native Apache Arrow IPC / Feather V2 source and sink.

The reference reaches Arrow/Feather datasets through its GDAL binding
(GDAL's Arrow driver; st_read.cpp:612-641 enumerates drivers). Here the
format is read with pyarrow directly and fanned out the Spark way:

- **scan**: the driver opens only each file's FOOTER (record-batch count +
  schema — O(KB) metadata, like a parquet footer read), then builds
  (path, batch_lo, batch_hi) task rows; executors open their file and read
  ONLY their record-batch range. A single multi-batch file therefore
  parallelizes across the cluster; nothing ever reads a whole file per
  task.
- **sink**: one .arrow file per partition via mapInPandas — a distributed
  writer, no driver collect (the directory-of-files layout every Spark
  sink uses).

Geometry stays WKB in a binary column — the interchange form everywhere in
this engine — so `st_read('x.arrow')` composes with every ST_* function
with zero re-encoding.
"""
from __future__ import annotations

import glob
import os
import uuid
from typing import Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .filescan import _range_table


def _arrow_files(path: str) -> List[str]:
    if os.path.isdir(path):
        out: List[str] = []
        for ext in ("*.arrow", "*.feather", "*.ipc"):
            out.extend(glob.glob(os.path.join(path, ext)))
        return sorted(out)
    return [path]


def st_read_arrow(
    spark: SparkSession,
    path: str,
    columns: Optional[List[str]] = None,
    batches_per_task: int = 16,
) -> DataFrame:
    """Distributed Arrow IPC file / Feather V2 scan. ``columns`` is
    projection pushdown (pyarrow reads only those columns' buffers)."""
    import pyarrow as pa
    import pyarrow.ipc as ipc
    from pyspark.sql.pandas.types import from_arrow_schema

    files = _arrow_files(path)
    if not files:
        raise ValueError(f"no .arrow/.feather/.ipc files at {path!r}")

    tasks = []
    schema = None
    for f in files:
        with ipc.open_file(f) as rd:  # footer-only: schema + batch count
            nb = rd.num_record_batches
            if schema is None:
                schema = rd.schema
            elif not rd.schema.equals(schema, check_metadata=False):
                # catch driver-side while footers are already open — an
                # executor-side mismatch would surface as a confusing
                # Arrow coercion error deep inside the scan
                raise ValueError(
                    f"schema mismatch in directory scan: {f!r} has\n"
                    f"{rd.schema}\nbut {files[0]!r} has\n{schema}"
                )
        for lo in range(0, max(nb, 1), batches_per_task):
            tasks.append((f, lo, min(lo + batches_per_task, nb)))
    if columns:
        missing = [c for c in columns if c not in schema.names]
        if missing:
            raise ValueError(f"columns not in {files[0]}: {missing}")
        schema = pa.schema([schema.field(c) for c in columns])
    spark_schema = from_arrow_schema(schema)

    # its own loop, not scan_ranges: a record batch goes to pandas
    # column-wise, where rows would box every value as a Python object
    tdf = _range_table(spark, tasks, "path string, lo int, hi int")
    cols = list(schema.names)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.ipc as ipc_

        for pdf in batches:
            for p, lo, hi in zip(pdf["path"], pdf["lo"], pdf["hi"]):
                with ipc_.open_file(str(p)) as rd:
                    for i in range(int(lo), int(hi)):
                        tb = pa.Table.from_batches([rd.get_batch(i)])
                        if columns:
                            tb = tb.select(cols)
                        out = tb.to_pandas()
                        if len(out):
                            yield out

    return tdf.mapInPandas(scan, schema=spark_schema)


def st_write_arrow(
    df: DataFrame,
    path: str,
    compression: Optional[str] = None,
) -> None:
    """Distributed Arrow IPC sink: one .arrow file per partition under
    ``path`` (directory-of-files, the standard Spark sink layout) — no
    single-writer bottleneck, no byte guard needed."""
    os.makedirs(path, exist_ok=True)
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(df.schema)
    comp = compression

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.ipc as ipc_

        fname = os.path.join(path, f"part-{uuid.uuid4().hex}.arrow")
        writer = None
        n = 0
        for pdf in batches:
            tb = pa.Table.from_pandas(pdf, schema=arrow_schema,
                                      preserve_index=False)
            if writer is None:
                opts = ipc_.IpcWriteOptions(compression=comp) if comp else None
                writer = ipc_.new_file(fname, arrow_schema, options=opts)
            writer.write_table(tb)
            n += len(pdf)
        if writer is not None:
            writer.close()
        yield pd.DataFrame({"file": [fname], "rows": [n]})

    # the action IS the write; collect the per-partition manifests
    df.mapInPandas(write, schema="file string, rows long").collect()
