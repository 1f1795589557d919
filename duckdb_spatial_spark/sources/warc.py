"""WARC (Web ARChive, ISO 28500) source and sink — the container format of
Common Crawl and every large-scale web corpus, i.e. the ingestion format a
100-TB LLM training-data pipeline actually starts from.

Format (public spec, warc-specifications / ISO 28500): a WARC file is a
sequence of records; each record is

    WARC/1.0 CRLF
    <header-name>: <value> CRLF ...
    CRLF
    <Content-Length bytes of block>
    CRLF CRLF

``response`` records carry a full HTTP message as the block
(status line + headers + CRLF CRLF + body). Common Crawl stores WARC
gzip-compressed with **one gzip member per record** so single records are
randomly addressable; stdlib ``gzip`` reads concatenated members
transparently, so the same sequential parser covers ``.warc`` and
``.warc.gz``.

Spark-first shape (mirrors the reference's ST_Read driver model,
spatial/src/spatial/gdal/functions/st_read.cpp — one file per task is the
unit of parallelism for record-sequential containers):

- **scan**: driver lists files (O(files) metadata only), executors parse —
  one task per WARC file via ``mapInPandas``; no driver collect of data.
  HTTP response blocks are split executor-side into (status, headers,
  body) so downstream text extraction starts from the body bytes.
- **sink**: one ``.warc.gz`` per partition via ``mapInPandas``; each record
  its own gzip member (the Common Crawl layout). Deterministic record ids
  (UUIDv5-style from the target URI) and a fixed ``WARC-Date`` default keep
  shards byte-reproducible for tests.

No external deps: stdlib ``gzip``/``io``/``hashlib`` only.
"""
from __future__ import annotations

import glob
import gzip
import hashlib
import io
import os
from typing import IO, Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .filescan import scan_ranges

__all__ = ["st_read_warc", "st_write_warc"]

_READ_SCHEMA = (
    "file string, record_type string, record_id string, target_uri string, "
    "warc_date string, content_type string, http_status int, "
    "http_content_type string, payload binary, nbytes long"
)

_CRLF = b"\r\n"


def _files(path: str) -> List[str]:
    if os.path.isdir(path):
        out: List[str] = []
        for pat in ("*.warc", "*.warc.gz"):
            out.extend(glob.glob(os.path.join(path, pat)))
        return sorted(out)
    if any(ch in path for ch in "*?["):
        return sorted(glob.glob(path))
    return [path]


def _read_headers(fh: IO[bytes]):
    """Read CRLF-terminated header lines up to the blank line; returns a
    dict (lower-cased names) or None on clean EOF before a version line."""
    # skip inter-record padding (spec: two CRLFs after the block; tolerate
    # any number of blank lines between records)
    line = fh.readline()
    while line in (_CRLF, b"\n"):
        line = fh.readline()
    if not line:
        return None
    if not line.startswith(b"WARC/"):
        raise ValueError(f"not a WARC record boundary: {line[:40]!r}")
    headers = {}
    while True:
        line = fh.readline()
        if line in (_CRLF, b"\n", b""):
            break
        # header continuation lines (obs-fold) — rare; append to previous
        if line[:1] in (b" ", b"\t") and headers:
            headers[last] += b" " + line.strip()  # noqa: F821
            continue
        name, _, value = line.partition(b":")
        last = name.strip().lower().decode("ascii")
        headers[last] = value.strip()
    return headers


def _decode_uri(b: bytes) -> str:
    """Target URIs are written utf-8 (WARC 1.1 allows it); legacy archives
    may carry latin-1 bytes — fall back rather than fail the scan."""
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _split_http(block: bytes):
    """Split an HTTP message block into (status:int|None, content_type,
    body). Non-HTTP blocks return (None, None, block)."""
    if not block.startswith(b"HTTP/"):
        return None, None, block
    head, sep, body = block.partition(b"\r\n\r\n")
    if not sep:
        head, sep, body = block.partition(b"\n\n")
        if not sep:
            return None, None, block
    lines = head.split(b"\r\n") if b"\r\n" in head else head.split(b"\n")
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        status = None
    ctype = None
    for ln in lines[1:]:
        name, _, value = ln.partition(b":")
        if name.strip().lower() == b"content-type":
            ctype = value.strip().decode("latin-1")
            break
    return status, ctype, body


def _parse_warc(p: str, want: Optional[set]) -> Iterator[tuple]:
    opener = gzip.open if p.endswith(".gz") else open
    fname = os.path.basename(p)
    with opener(p, "rb") as fh:
        while True:
            headers = _read_headers(fh)
            if headers is None:
                return
            n = int(headers.get("content-length", b"0"))
            block = fh.read(n)
            if len(block) != n:
                raise ValueError(
                    f"{fname}: truncated record ({len(block)}/{n} bytes)")
            rtype = headers.get("warc-type", b"").decode("ascii")
            if want is not None and rtype not in want:
                continue
            ctype = headers.get("content-type", b"").decode("latin-1") or None
            status, http_ct, body = (None, None, block)
            if ctype and "application/http" in ctype:
                status, http_ct, body = _split_http(block)
            yield (
                fname,
                rtype,
                headers.get("warc-record-id", b"").decode("ascii") or None,
                _decode_uri(headers.get("warc-target-uri", b"")) or None,
                headers.get("warc-date", b"").decode("ascii") or None,
                ctype,
                status,
                http_ct,
                body,
                len(body),
            )


def st_read_warc(
    spark: SparkSession,
    path: str,
    record_types: Optional[List[str]] = ("response",),
) -> DataFrame:
    """Distributed WARC scan: one task per file. ``record_types`` filters
    executor-side (default keeps only ``response`` records — the page
    payloads; pass None for all types incl. warcinfo/request/metadata).
    ``payload`` is the HTTP **body** for http records (status/content-type
    split into their own columns), the raw block otherwise."""
    files = _files(path)
    if not files:
        raise ValueError(f"no .warc/.warc.gz files at {path!r}")
    want = set(record_types) if record_types is not None else None

    return scan_ranges(spark, [(f,) for f in files], "path string",
                       lambda p: list(_parse_warc(p, want)), _READ_SCHEMA)


_FIXED_DATE = "2020-01-01T00:00:00Z"


def _record(headers: List[tuple], block: bytes) -> bytes:
    buf = io.BytesIO()
    buf.write(b"WARC/1.0\r\n")
    for k, v in headers:
        buf.write(k.encode("ascii") + b": " + v + _CRLF)
    buf.write(b"Content-Length: %d\r\n\r\n" % len(block))
    buf.write(block)
    buf.write(b"\r\n\r\n")
    return buf.getvalue()


def st_write_warc(
    df: DataFrame,
    path: str,
    uri_col: str,
    payload_col: str,
    content_type_col: Optional[str] = None,
    http_status: int = 200,
    warc_date: str = _FIXED_DATE,
    num_files: int = 0,
) -> List[str]:
    """Write ``df`` as Common-Crawl-layout ``.warc.gz``: one file per
    partition, one ``response`` record per row, each record its own gzip
    member. Record ids are deterministic (md5 of the target URI formatted
    as urn:uuid) so output is byte-reproducible. Distributed — no driver
    collect; returns the file paths from the executors' manifest."""
    os.makedirs(path, exist_ok=True)
    cols = [uri_col, payload_col] + ([content_type_col] if content_type_col
                                     else [])
    d = df.select(*cols)
    if num_files:
        d = d.repartition(num_files, F.col(uri_col))

    def write_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True).sort_values(uri_col)
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        out = os.path.join(path, f"part-{pid:05d}.warc.gz")
        n = 0
        with open(out, "wb") as raw:
            for _, row in pdf.iterrows():
                if row[uri_col] is None or row[payload_col] is None:
                    # a record needs a target URI and a payload; null
                    # rows are skipped rather than crashing the task
                    continue
                uri = str(row[uri_col])
                body = bytes(row[payload_col])
                ctype = (str(row[content_type_col]) if content_type_col
                         else "text/html; charset=utf-8")
                http = (
                    b"HTTP/1.1 %d OK\r\nContent-Type: %s\r\n"
                    b"Content-Length: %d\r\n\r\n"
                    % (http_status, ctype.encode("latin-1"), len(body))
                ) + body
                h = hashlib.md5(uri.encode("utf-8")).hexdigest()
                rid = (f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-"
                       f"{h[16:20]}-{h[20:32]}>")
                rec = _record(
                    [
                        ("WARC-Type", b"response"),
                        ("WARC-Record-ID", rid.encode("ascii")),
                        ("WARC-Date", warc_date.encode("ascii")),
                        ("WARC-Target-URI", uri.encode("utf-8")),
                        ("Content-Type",
                         b"application/http; msgtype=response"),
                    ],
                    http,
                )
                # one gzip member per record (Common Crawl layout): records
                # stay independently addressable by byte offset
                member = io.BytesIO()
                with gzip.GzipFile(fileobj=member, mode="wb", mtime=0) as gz:
                    gz.write(rec)
                raw.write(member.getvalue())
                n += 1
        yield pd.DataFrame([(out, n)], columns=["file_path", "n_records"])

    manifest = d.mapInPandas(
        write_part, schema="file_path string, n_records long"
    ).collect()
    return sorted(r.file_path for r in manifest)
