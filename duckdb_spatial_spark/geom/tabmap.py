"""MapInfo TAB dataset codec (.tab/.dat/.map/.id) — pure Python.

The reference reads MapInfo TAB through GDAL's MapInfo driver
(``spatial/src/spatial/gdal/functions/st_read.cpp:612-641`` driver list;
``docs/internals.md:25-78``).  Here the container is decoded natively from
the publicly documented format (the MITAB project's format description —
the same public documentation GDAL's driver is built from):

* ``.tab``   — text manifest: ``!table`` / ``!version`` / ``Definition
  Table`` with ``Type NATIVE`` and the field list.
* ``.dat``   — attribute table, plain dBASE III layout (same codec as the
  shapefile sidecar, ``geom/shp.py``).  Fixed-size records → any row is
  seekable, which is what makes the distributed range scan work.
* ``.map``   — geometry file: 512-byte blocks (header block with magic
  cookie 42424242, object blocks, coordinate blocks).  Coordinates are
  stored as int32 after the header's affine (x_int = x*XScale + XDispl),
  scaled so the data bounds span the ±1e9 integer range.
* ``.id``    — one little-endian int32 per row: absolute byte offset of
  the row's object record inside ``.map`` (0 = no geometry).

Implemented object types (uncompressed variants):

=========  ====  =========================================
SYMBOL     0x02  point; payload x,y int32
LINE       0x05  two-point segment; payload x1,y1,x2,y2
PLINE      0x08  polyline; coords in a coordinate block
REGION     0x0E  polygon(s); ring directory in coord block
MULTIPOINT 0x35  point cloud; coords in coord block
=========  ====  =========================================

The subset is round-trip validated (write → read → geometry equality) the
same way the OpenFileGDB codec is; compressed variants and the optional
spatial-index block chain are not needed to read back data this codec
wrote, and readers tolerate their absence.
"""

from __future__ import annotations

import struct
from typing import List, Optional, Tuple

import numpy as np

from .core import Geometry

BLOCK = 512
MAGIC = 42424242
VERSION = 300

# block types (header of every 512-byte block after block 0)
BT_INDEX = 1
BT_OBJECT = 2
BT_COORD = 3

# object types (uncompressed)
OT_NONE = 0x00
OT_SYMBOL = 0x02
OT_LINE = 0x05
OT_PLINE = 0x08
OT_REGION = 0x0E
OT_MULTIPOINT = 0x35


class MapAffine:
    """int32 ⇄ double affine from the .map header."""

    def __init__(self, xscale: float, yscale: float, xdispl: float, ydispl: float):
        self.xscale, self.yscale = xscale, yscale
        self.xdispl, self.ydispl = xdispl, ydispl

    def fwd(self, xy: np.ndarray) -> np.ndarray:
        out = np.empty_like(xy, dtype=np.int64)
        out[..., 0] = np.rint(xy[..., 0] * self.xscale + self.xdispl)
        out[..., 1] = np.rint(xy[..., 1] * self.yscale + self.ydispl)
        return out.astype(np.int32)

    def inv(self, ij: np.ndarray) -> np.ndarray:
        out = np.empty(ij.shape, dtype=np.float64)
        out[..., 0] = (ij[..., 0] - self.xdispl) / self.xscale
        out[..., 1] = (ij[..., 1] - self.ydispl) / self.yscale
        return out

    @staticmethod
    def for_bounds(xmin: float, ymin: float, xmax: float, ymax: float) -> "MapAffine":
        # span the ±1e9 integer range over the data bounds (MITAB default
        # quadrant handling reduced to the origin-centred case)
        sx = (2e9 / (xmax - xmin)) if xmax > xmin else 1e6
        sy = (2e9 / (ymax - ymin)) if ymax > ymin else 1e6
        s = min(sx, sy)
        return MapAffine(s, s, -0.5 * (xmin + xmax) * s, -0.5 * (ymin + ymax) * s)


# ---------------------------------------------------------------------------
# writer


class _MapWriter:
    def __init__(self, affine: MapAffine):
        self.aff = affine
        self.blocks: List[bytearray] = []  # data blocks after the header
        self.obj_cur: Optional[bytearray] = None
        self.coord_cur: Optional[bytearray] = None
        self.offsets: List[int] = []  # per-feature .map offset (for .id)
        self.int_bounds = [2**31 - 1, 2**31 - 1, -(2**31), -(2**31)]

    # -- block plumbing ----------------------------------------------------
    def _new_block(self, btype: int) -> bytearray:
        b = bytearray(BLOCK)
        struct.pack_into("<hh", b, 0, btype, 8)  # type, bytes-used
        self.blocks.append(b)
        return b

    def _block_off(self, b: bytearray) -> int:
        return BLOCK * (1 + self.blocks.index(b))

    @staticmethod
    def _used(b: bytearray) -> int:
        return struct.unpack_from("<h", b, 2)[0]

    @staticmethod
    def _set_used(b: bytearray, n: int) -> None:
        struct.pack_into("<h", b, 2, n)

    def _obj_block_for(self, payload_len: int) -> bytearray:
        if self.obj_cur is None or self._used(self.obj_cur) + payload_len > BLOCK:
            self.obj_cur = self._new_block(BT_OBJECT)
        return self.obj_cur

    def _put_coords(self, ij: np.ndarray, extra: bytes = b"") -> Tuple[int, int]:
        """Append ring-directory bytes + int32 pairs to coordinate blocks
        (chained when >1 block); returns (absolute offset, total bytes)."""
        data = extra + ij.astype("<i4").tobytes()
        total = len(data)
        first_off = None
        pos = 0
        while pos < total:
            if (self.coord_cur is None
                    or self._used(self.coord_cur) >= BLOCK):
                nxt = self._new_block(BT_COORD)
                if self.coord_cur is not None:
                    # chain: next-block pointer at offset 4
                    struct.pack_into(
                        "<i", self.coord_cur, 4, self._block_off(nxt))
                self.coord_cur = nxt
                if first_off is None:
                    pass
                self._set_used(self.coord_cur, 8)
            b = self.coord_cur
            used = self._used(b)
            room = BLOCK - used
            chunk = data[pos:pos + room]
            b[used:used + len(chunk)] = chunk
            if first_off is None:
                first_off = self._block_off(b) + used
            self._set_used(b, used + len(chunk))
            pos += len(chunk)
        return first_off, total

    def _track_bounds(self, ij: np.ndarray) -> None:
        bb = self.int_bounds
        flat = ij.reshape(-1, 2)
        bb[0] = min(bb[0], int(flat[:, 0].min()))
        bb[1] = min(bb[1], int(flat[:, 1].min()))
        bb[2] = max(bb[2], int(flat[:, 0].max()))
        bb[3] = max(bb[3], int(flat[:, 1].max()))

    # -- objects -----------------------------------------------------------
    def add(self, rowid: int, g: Optional[Geometry]) -> None:
        if g is None:
            self.offsets.append(0)
            return
        tid = g.type_id
        if tid == 1:  # point
            ij = self.aff.fwd(np.asarray(g.coords, dtype=np.float64)[:2][None, :])
            self._track_bounds(ij)
            payload = struct.pack("<Bi", OT_SYMBOL, rowid) + ij.astype(
                "<i4").tobytes() + b"\x01"
            self._emit(payload)
        elif tid == 2:  # linestring
            pts = np.asarray(g.coords, dtype=np.float64)[:, :2]
            ij = self.aff.fwd(pts)
            self._track_bounds(ij)
            if len(pts) == 2:
                payload = (struct.pack("<Bi", OT_LINE, rowid)
                           + ij.astype("<i4").tobytes() + b"\x01")
                self._emit(payload)
            else:
                off, nbytes = self._put_coords(ij)
                payload = (struct.pack("<Bi", OT_PLINE, rowid)
                           + struct.pack("<iii", off, nbytes, len(pts))
                           + self._mbr(ij) + b"\x01")
                self._emit(payload)
        elif tid in (3, 6):  # polygon / multipolygon → REGION
            rings = (list(g.rings or []) if tid == 3 else
                     [r for p in (g.parts or []) for r in (p.rings or [])])
            rings = [np.asarray(r, dtype=np.float64)[:, :2] for r in rings]
            ijs = [self.aff.fwd(r) for r in rings]
            for ij in ijs:
                self._track_bounds(ij)
            directory = struct.pack("<h", len(ijs))
            body = b"".join(struct.pack("<i", len(ij)) + ij.astype("<i4").tobytes()
                            for ij in ijs)
            allij = np.concatenate(ijs) if ijs else np.zeros((0, 2), np.int32)
            off, nbytes = self._put_coords(
                np.zeros((0, 2), np.int32), extra=directory + body)
            payload = (struct.pack("<Bi", OT_REGION, rowid)
                       + struct.pack("<iii", off, nbytes, len(ijs))
                       + self._mbr(allij) + b"\x01\x01")
            self._emit(payload)
        elif tid == 4:  # multipoint
            pts = np.concatenate([np.asarray(p.coords, dtype=np.float64)[None, :2]
                                  for p in (g.parts or [])]) if g.parts else \
                np.zeros((0, 2))
            ij = self.aff.fwd(pts)
            if len(ij):
                self._track_bounds(ij)
            off, nbytes = self._put_coords(ij)
            payload = (struct.pack("<Bi", OT_MULTIPOINT, rowid)
                       + struct.pack("<iii", off, nbytes, len(ij))
                       + self._mbr(ij) + b"\x01")
            self._emit(payload)
        elif tid == 5:  # multilinestring → one PLINE per part is lossy;
            # store as MULTIPLINE-shaped region of lines: emit first part
            # directory in coord block, same record shape as REGION but
            # PLINE type is kept per documented MULTIPLINE layout
            parts = [np.asarray(p.coords, dtype=np.float64)[:, :2]
                     for p in (g.parts or [])]
            ijs = [self.aff.fwd(p) for p in parts]
            for ij in ijs:
                self._track_bounds(ij)
            directory = struct.pack("<h", len(ijs))
            body = b"".join(struct.pack("<i", len(ij)) + ij.astype("<i4").tobytes()
                            for ij in ijs)
            allij = np.concatenate(ijs) if ijs else np.zeros((0, 2), np.int32)
            off, nbytes = self._put_coords(
                np.zeros((0, 2), np.int32), extra=directory + body)
            payload = (struct.pack("<Bi", 0x26, rowid)  # MULTIPLINE
                       + struct.pack("<iii", off, nbytes, len(ijs))
                       + self._mbr(allij) + b"\x01")
            self._emit(payload)
        else:
            raise NotImplementedError(
                f"TAB writer: geometry type_id {tid} not supported")

    def _mbr(self, ij: np.ndarray) -> bytes:
        if len(ij) == 0:
            return struct.pack("<iiii", 0, 0, 0, 0)
        return struct.pack("<iiii", int(ij[:, 0].min()), int(ij[:, 1].min()),
                           int(ij[:, 0].max()), int(ij[:, 1].max()))

    def _emit(self, payload: bytes) -> None:
        b = self._obj_block_for(len(payload))
        used = self._used(b)
        self.offsets.append(self._block_off(b) + used)
        b[used:used + len(payload)] = payload
        self._set_used(b, used + len(payload))

    # -- header + serialization -------------------------------------------
    def tobytes(self) -> bytes:
        hdr = bytearray(BLOCK)
        # 0x000-0x0FF: object-length lookup array (unused by this reader,
        # kept for layout fidelity)
        struct.pack_into("<i", hdr, 0x100, MAGIC)
        struct.pack_into("<hh", hdr, 0x104, VERSION, BLOCK)
        struct.pack_into("<d", hdr, 0x108, 1.0)  # coordsys dist units
        bb = self.int_bounds
        if bb[0] > bb[2]:
            bb = [0, 0, 0, 0]
        struct.pack_into("<iiii", hdr, 0x110, *bb)
        struct.pack_into("<i", hdr, 0x120, 0)  # first index block (none)
        struct.pack_into("<dddd", hdr, 0x124, self.aff.xscale,
                         self.aff.yscale, self.aff.xdispl, self.aff.ydispl)
        struct.pack_into("<i", hdr, 0x144, len(self.offsets))
        return bytes(hdr) + b"".join(bytes(b) for b in self.blocks)


# ---------------------------------------------------------------------------
# reader


def read_map_header(buf: bytes) -> Tuple[MapAffine, int]:
    if len(buf) < BLOCK:
        raise ValueError("tabmap: truncated .map")
    magic = struct.unpack_from("<i", buf, 0x100)[0]
    if magic != MAGIC:
        raise ValueError(f"tabmap: bad magic {magic}")
    xs, ys, xd, yd = struct.unpack_from("<dddd", buf, 0x124)
    n = struct.unpack_from("<i", buf, 0x144)[0]
    return MapAffine(xs, ys, xd, yd), n


def _coord_bytes(buf: bytes, off: int, nbytes: int) -> bytes:
    """Follow the coord-block chain from an absolute offset."""
    out = bytearray()
    while nbytes > 0:
        blk_start = (off // BLOCK) * BLOCK
        used = struct.unpack_from("<h", buf, blk_start + 2)[0]
        avail = blk_start + used - off
        take = min(avail, nbytes)
        out += buf[off:off + take]
        nbytes -= take
        if nbytes > 0:
            nxt = struct.unpack_from("<i", buf, blk_start + 4)[0]
            if nxt == 0:
                raise ValueError("tabmap: broken coord chain")
            off = nxt + 8
    return bytes(out)


def read_object(buf: bytes, off: int, aff: MapAffine) -> Optional[Geometry]:
    if off == 0:
        return None
    ot = buf[off]
    if ot == OT_SYMBOL:
        ij = np.frombuffer(buf, "<i4", 2, off + 5).reshape(1, 2)
        xy = aff.inv(ij)[0]
        return Geometry.point(float(xy[0]), float(xy[1]))
    if ot == OT_LINE:
        ij = np.frombuffer(buf, "<i4", 4, off + 5).reshape(2, 2)
        return Geometry.linestring(aff.inv(ij))
    if ot == OT_PLINE:
        coff, nbytes, npts = struct.unpack_from("<iii", buf, off + 5)
        data = _coord_bytes(buf, coff, nbytes)
        ij = np.frombuffer(data, "<i4").reshape(-1, 2)
        return Geometry.linestring(aff.inv(ij))
    if ot in (OT_REGION, 0x26):
        coff, nbytes, nrings = struct.unpack_from("<iii", buf, off + 5)
        data = _coord_bytes(buf, coff, nbytes)
        nr = struct.unpack_from("<h", data, 0)[0]
        pos = 2
        rings = []
        for _ in range(nr):
            n = struct.unpack_from("<i", data, pos)[0]
            pos += 4
            ij = np.frombuffer(data, "<i4", n * 2, pos).reshape(-1, 2)
            pos += n * 8
            rings.append(aff.inv(ij))
        if ot == OT_REGION:
            return Geometry.polygon(rings)
        parts = [Geometry.linestring(r) for r in rings]
        return Geometry(5, parts=parts)
    if ot == OT_MULTIPOINT:
        coff, nbytes, npts = struct.unpack_from("<iii", buf, off + 5)
        data = _coord_bytes(buf, coff, nbytes)
        ij = np.frombuffer(data, "<i4").reshape(-1, 2)
        xy = aff.inv(ij)
        return Geometry(4, parts=[Geometry.point(float(x), float(y))
                                  for x, y in xy])
    raise NotImplementedError(f"tabmap: object type 0x{ot:02x}")


# ---------------------------------------------------------------------------
# dataset-level helpers

_TAB_TYPES = {
    "C": lambda flen, fdec: f"Char ({flen})",
    "N": lambda flen, fdec: (f"Decimal ({flen}, {fdec})" if fdec else "Integer"),
    "F": lambda flen, fdec: "Float",
    "L": lambda flen, fdec: "Logical",
    "D": lambda flen, fdec: "Date",
}


def write_tab_manifest(fields) -> str:
    lines = ["!table", f"!version {VERSION}", "!charset WindowsLatin1", "",
             "Definition Table",
             '  Type NATIVE Charset "WindowsLatin1"',
             f"  Fields {len(fields)}"]
    for name, ftype, flen, fdec in fields:
        lines.append(f"    {name} {_TAB_TYPES[ftype](flen, fdec)} ;")
    return "\n".join(lines) + "\n"


def parse_tab_manifest(text: str) -> List[Tuple[str, str, int, int]]:
    """.tab field list → [(name, dbf_type, len, dec)] (informational; the
    authoritative schema is the .dat dBASE header)."""
    fields = []
    in_fields = False
    for raw in text.splitlines():
        s = raw.strip().rstrip(";").strip()
        if s.lower().startswith("fields"):
            in_fields = True
            continue
        if in_fields and s:
            parts = s.split()
            name, decl = parts[0], " ".join(parts[1:]).lower()
            if decl.startswith("char"):
                ln = int(decl.split("(")[1].split(")")[0].split(",")[0])
                fields.append((name, "C", ln, 0))
            elif decl.startswith("integer") or decl.startswith("smallint"):
                fields.append((name, "N", 11, 0))
            elif decl.startswith("decimal"):
                inner = decl.split("(")[1].split(")")[0].split(",")
                fields.append((name, "N", int(inner[0]), int(inner[1])))
            elif decl.startswith("float"):
                fields.append((name, "F", 20, 6))
            elif decl.startswith("logical"):
                fields.append((name, "L", 1, 0))
            elif decl.startswith("date"):
                fields.append((name, "D", 8, 0))
    return fields


def write_dataset(base: str, fields, rows, geoms) -> None:
    """Write .tab/.dat/.map/.id. ``fields`` as for geom.shp.write_dbf,
    ``rows`` attribute tuples, ``geoms`` parallel list of Geometry/None."""
    from . import shp as SHP

    xs, ys = [], []
    for g in geoms:
        if g is None:
            continue
        b = g.bounds()
        if b:
            xs += [b[0], b[2]]
            ys += [b[1], b[3]]
    aff = (MapAffine.for_bounds(min(xs), min(ys), max(xs), max(ys))
           if xs else MapAffine(1e6, 1e6, 0.0, 0.0))
    w = _MapWriter(aff)
    for i, g in enumerate(geoms):
        w.add(i + 1, g)
    with open(base + ".map", "wb") as fh:
        fh.write(w.tobytes())
    with open(base + ".id", "wb") as fh:
        fh.write(np.asarray(w.offsets, dtype="<i4").tobytes())
    with open(base + ".dat", "wb") as fh:
        fh.write(SHP.write_dbf(fields, rows))
    with open(base + ".tab", "w") as fh:
        fh.write(write_tab_manifest(fields))


def read_id(path: str) -> np.ndarray:
    with open(path, "rb") as fh:
        return np.frombuffer(fh.read(), dtype="<i4")
