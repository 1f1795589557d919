"""Native XLSX source — stdlib zipfile + ElementTree, no GDAL/openpyxl.

The reference reads spreadsheets through GDAL's XLSX driver
(st_read.cpp:612-641 driver list; test/sql/gdal exercises .xlsx). An .xlsx
file is a zip of XML parts (ECMA-376, a public spec): worksheet cell rows
in ``xl/worksheets/sheetN.xml`` with shared strings in
``xl/sharedStrings.xml``. The bind step parses driver-side (spreadsheets
are small by construction) into a ``local_relation``, so the rows travel
inside the plan and no Spark job reads them. A ``wkt_col`` turns a
column of WKT into geometry downstream (same convention as the csv path).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
import zipfile
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from .tables import local_relation

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_index(ref: str) -> int:
    """'BC12' → 0-based column index (54)."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return n - 1


def read_xlsx_rows(path: str, sheet: Optional[str] = None) -> List[List]:
    """All rows of one worksheet as python values (str/float/bool/None)."""
    with zipfile.ZipFile(path) as zf:
        shared: List[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.iter(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
        # sheet name → target part via workbook + rels
        target = "xl/worksheets/sheet1.xml"
        if sheet is not None:
            wb = ET.fromstring(zf.read("xl/workbook.xml"))
            rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
            rid_to_target = {
                r.get("Id"): r.get("Target")
                for r in rels.iter("{http://schemas.openxmlformats.org/package/2006/relationships}Relationship")
            }
            rid_attr = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
            found = False
            for sh in wb.iter(f"{_NS}sheet"):
                if sh.get("name") == sheet:
                    tgt = rid_to_target.get(sh.get(rid_attr), "")
                    target = tgt if tgt.startswith("xl/") else "xl/" + tgt
                    found = True
            if not found:
                raise ValueError(f"{path}: no sheet named {sheet!r}")
        root = ET.fromstring(zf.read(target))
        rows: List[List] = []
        for row in root.iter(f"{_NS}row"):
            out: List = []
            for c in row.iter(f"{_NS}c"):
                ref = c.get("r") or ""
                idx = _col_index(ref) if ref else len(out)
                while len(out) < idx:
                    out.append(None)
                t = c.get("t", "n")
                v = c.find(f"{_NS}v")
                text = v.text if v is not None else None
                if t == "s" and text is not None:
                    out.append(shared[int(text)])
                elif t == "b" and text is not None:
                    out.append(text == "1")
                elif t == "inlineStr":
                    out.append("".join(x.text or "" for x in c.iter(f"{_NS}t")))
                elif text is None:
                    out.append(None)
                else:
                    out.append(float(text))
            rows.append(out)
        return rows


def st_read_xlsx(
    spark: SparkSession,
    path: str,
    sheet: Optional[str] = None,
    header: bool = True,
    wkt_col: Optional[str] = None,
    geom_col: str = "geom",
) -> DataFrame:
    rows = read_xlsx_rows(path, sheet)
    if not rows:
        raise ValueError(f"{path}: empty sheet")
    width = max(len(r) for r in rows)
    rows = [r + [None] * (width - len(r)) for r in rows]
    if header:
        names = [
            re.sub(r"\W+", "_", str(v)) if v is not None else f"col{i}"
            for i, v in enumerate(rows[0])
        ]
        body = rows[1:]
    else:
        names = [f"col{i}" for i in range(width)]
        body = rows
    # column type: all-numeric → double, all-bool → boolean, else string
    cols = []
    for i, nm in enumerate(names):
        vals = [r[i] for r in body if r[i] is not None]
        if vals and all(isinstance(v, float) for v in vals):
            t = "double"
        elif vals and all(isinstance(v, bool) for v in vals):
            t = "boolean"
        else:
            t = "string"
            body = [
                r[:i] + [None if r[i] is None else str(r[i])] + r[i + 1:]
                for r in body
            ]
        cols.append(f"`{nm}` {t}")
    df = local_relation(spark, body, ", ".join(cols))
    if wkt_col is not None and wkt_col in df.columns:
        from ..functions import scalar as S

        df = df.withColumn(geom_col, S.st_geomfromtext(wkt_col))
    return df
