"""WebDataset (tar-shard) source and sink — the standard container for
large-scale multimodal training data (POSIX tar shards whose members group
into samples by basename: ``000017.jpg`` + ``000017.txt`` + ``000017.json``
form one sample with key ``000017``; the format is the public WebDataset
convention used by open large-scale image/text pipelines).

Spark-first shape:

- **scan**: one task per shard — exactly the WebDataset I/O model (shards
  are the unit of sequential-read parallelism; members inside a shard are
  read in order with stdlib ``tarfile``, never seeked). Output is the LONG
  form ``(shard, key, ext, payload binary, nbytes)``; ``group_samples``
  pivots to one row per sample with a ``map<ext, binary>`` column.
- **sink**: one ``.tar`` shard per partition via ``mapInPandas`` — a
  distributed writer with no driver collect; ``repartition(n)`` upstream
  picks the shard count/size. Members are written key-sorted within a
  shard, samples never split across shards (the WebDataset contract).

No external deps: stdlib ``tarfile``/``io`` only.
"""
from __future__ import annotations

import glob
import io
import os
import tarfile
from typing import Dict, Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .filescan import scan_ranges

__all__ = ["st_read_webdataset", "st_write_webdataset", "group_samples"]

_READ_SCHEMA = (
    "shard string, key string, ext string, payload binary, nbytes long"
)


def _shards(path: str) -> List[str]:
    if os.path.isdir(path):
        out: List[str] = []
        for pat in ("*.tar", "*.tar.gz", "*.tgz"):
            out.extend(glob.glob(os.path.join(path, pat)))
        return sorted(out)
    if any(ch in path for ch in "*?["):
        return sorted(glob.glob(path))
    return [path]


def _split_key(name: str):
    """WebDataset key rule: basename up to the FIRST dot; the rest (which
    may itself contain dots, e.g. ``seg.png``) is the extension."""
    base = os.path.basename(name)
    if "." not in base:
        return base, ""
    k, ext = base.split(".", 1)
    return k, ext


def st_read_webdataset(
    spark: SparkSession,
    path: str,
    exts: Optional[List[str]] = None,
) -> DataFrame:
    """Read tar shards at ``path`` (a directory, a glob, or one file) into
    the long form (shard, key, ext, payload, nbytes). ``exts`` filters
    members by extension executor-side (skips payload reads of filtered
    members — only the 512-byte tar headers are walked)."""
    shards = _shards(path)
    if not shards:
        raise ValueError(f"no .tar shards at {path!r}")
    want = set(exts) if exts else None

    def parse(p):
        rows = []
        shard_name = os.path.basename(p)
        with tarfile.open(p, "r:*") as tf:  # transparent gzip
            for m in tf:
                if not m.isfile():
                    continue
                key, ext = _split_key(m.name)
                if want is not None and ext not in want:
                    continue
                payload = tf.extractfile(m).read()
                rows.append((shard_name, key, ext, payload, len(payload)))
        return rows

    return scan_ranges(spark, [(p,) for p in shards], "path string", parse,
                       _READ_SCHEMA)


def group_samples(long_df: DataFrame) -> DataFrame:
    """Pivot the long form to one row per sample:
    (shard, key, parts map<ext,binary>, total_bytes, n_parts). One shuffle
    on (shard, key)."""
    return (
        long_df.groupBy("shard", "key")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("ext", "payload")))
            ).alias("parts"),
            F.sum("nbytes").alias("total_bytes"),
            F.count("*").alias("n_parts"),
        )
    )


def st_write_webdataset(
    df: DataFrame,
    path: str,
    key_col: str,
    payload_cols: Dict[str, str],
    num_shards: Optional[int] = None,
) -> List[str]:
    """Write ``df`` as WebDataset tar shards: one shard per partition,
    members ``{key}.{ext}`` for each (column → ext) in ``payload_cols``,
    key-sorted within the shard so samples are contiguous (the WebDataset
    contract). Repartitions by key hash when ``num_shards`` is given —
    deterministic shard membership, no driver collect. Returns the shard
    paths (from the executors' manifest rows)."""
    os.makedirs(path, exist_ok=True)
    cols = [key_col] + list(payload_cols)
    d = df.select(*cols)
    if num_shards:
        d = d.repartition(num_shards, F.col(key_col))

    items = list(payload_cols.items())

    def write_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True).sort_values(key_col)
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        out = os.path.join(path, f"shard-{pid:05d}.tar")
        n = 0
        with tarfile.open(out, "w") as tf:
            for _, row in pdf.iterrows():
                key = str(row[key_col])
                for col, ext in items:
                    payload = row[col]
                    if payload is None:
                        continue
                    b = bytes(payload)
                    info = tarfile.TarInfo(name=f"{key}.{ext}")
                    info.size = len(b)
                    info.mtime = 0  # reproducible shards
                    tf.addfile(info, io.BytesIO(b))
                    n += 1
        yield pd.DataFrame([(out, n)], columns=["shard_path", "n_members"])

    manifest = d.mapInPandas(
        write_shard, schema="shard_path string, n_members long"
    ).collect()
    return sorted(r.shard_path for r in manifest)
