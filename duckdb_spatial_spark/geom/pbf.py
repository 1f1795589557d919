"""Minimal OpenStreetMap PBF codec — hand-rolled protobuf wire decoding,
no protobuf library.

The reference implements the same thing natively with protozero
(spatial/src/spatial/core/io/osm/st_read_osm.cpp, 910 LoC): file = a
sequence of [int32-BE header-size][BlobHeader][Blob] records; OSMData blobs
hold a zlib-compressed (or raw) PrimitiveBlock with a string table and
dense-delta-coded nodes / ways / relations. Output rows follow the
reference's fixed schema (st_read_osm.cpp:39-90): kind, id, tags, refs,
lat, lon, ref_roles, ref_types.

An encoder for the same subset lives at the bottom (used by tests and
st_write for small exports)."""

from __future__ import annotations

import struct
import zlib
from typing import Dict, Iterator, List, Tuple


# ------------------------------------------------------------ wire reading

def _varint(buf: bytes, pos: int) -> Tuple[int, int]:
    out = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _fields(buf: bytes) -> Iterator[Tuple[int, int, object]]:
    """Yield (field_no, wire_type, value). Length-delimited → bytes."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _varint(buf, pos)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = _varint(buf, pos)
        elif wt == 1:
            v = struct.unpack_from("<q", buf, pos)[0]
            pos += 8
        elif wt == 2:
            ln, pos = _varint(buf, pos)
            v = buf[pos:pos + ln]
            pos += ln
        elif wt == 5:
            v = struct.unpack_from("<i", buf, pos)[0]
            pos += 4
        else:
            raise ValueError(f"pbf: unsupported wire type {wt}")
        yield fno, wt, v


def _packed_varints(buf: bytes, signed: bool = False) -> List[int]:
    out = []
    pos = 0
    while pos < len(buf):
        v, pos = _varint(buf, pos)
        out.append(_zigzag(v) if signed else v)
    return out


# ------------------------------------------------------------ blob layer

def scan_blobs(path: str) -> List[Tuple[str, int, int]]:
    """Driver-side bind: (type, offset, size) for every blob — offsets point
    at the Blob payload so executors can seek straight to their work
    (the parallel block scan of st_read_osm.cpp:169)."""
    out = []
    with open(path, "rb") as fh:
        while True:
            hdr_len_b = fh.read(4)
            if len(hdr_len_b) < 4:
                break
            (hdr_len,) = struct.unpack(">i", hdr_len_b)
            header = fh.read(hdr_len)
            btype = ""
            datasize = 0
            for fno, _wt, v in _fields(header):
                if fno == 1:
                    btype = v.decode()
                elif fno == 3:
                    datasize = v
            off = fh.tell()
            out.append((btype, off, datasize))
            fh.seek(off + datasize)
    return out


def _decompress_blob(blob: bytes) -> bytes:
    raw = None
    for fno, _wt, v in _fields(blob):
        if fno == 1:  # raw
            raw = v
        elif fno == 3:  # zlib_data
            raw = zlib.decompress(v)
    if raw is None:
        raise ValueError("pbf: blob has no raw/zlib payload")
    return raw


# ------------------------------------------------------------ primitive block

def decode_block(data: bytes) -> List[dict]:
    """PrimitiveBlock bytes → rows of the reference's ST_ReadOSM schema."""
    stringtable: List[str] = []
    groups: List[bytes] = []
    granularity = 100
    lat_off = 0
    lon_off = 0
    for fno, _wt, v in _fields(data):
        if fno == 1:  # stringtable
            for f2, _w2, s in _fields(v):
                if f2 == 1:
                    stringtable.append(s.decode("utf-8", "replace"))
        elif fno == 2:
            groups.append(v)
        elif fno == 17:
            granularity = v
        elif fno == 19:
            lat_off = v
        elif fno == 20:
            lon_off = v

    def coord(off: int, g: int, raw: int) -> float:
        return 1e-9 * (off + g * raw)

    rows: List[dict] = []
    for grp in groups:
        for fno, _wt, v in _fields(grp):
            if fno == 2:  # DenseNodes
                ids: List[int] = []
                lats: List[int] = []
                lons: List[int] = []
                kv: List[int] = []
                for f2, _w2, b in _fields(v):
                    if f2 == 1:
                        ids = _packed_varints(b, signed=True)
                    elif f2 == 8:
                        lats = _packed_varints(b, signed=True)
                    elif f2 == 9:
                        lons = _packed_varints(b, signed=True)
                    elif f2 == 10:
                        kv = _packed_varints(b)
                cid = clat = clon = 0
                ki = 0
                for i in range(len(ids)):
                    cid += ids[i]
                    clat += lats[i]
                    clon += lons[i]
                    tags: Dict[str, str] = {}
                    while ki < len(kv) and kv[ki] != 0:
                        k = stringtable[kv[ki]]
                        val = stringtable[kv[ki + 1]]
                        tags[k] = val
                        ki += 2
                    ki += 1  # skip the 0 delimiter
                    rows.append({
                        "kind": "node", "id": cid, "tags": tags or None,
                        "refs": None,
                        "lat": coord(lat_off, granularity, clat),
                        "lon": coord(lon_off, granularity, clon),
                        "ref_roles": None, "ref_types": None,
                    })
            elif fno == 1:  # plain Node (rare)
                nid = 0
                lat = lon = 0
                keys: List[int] = []
                vals: List[int] = []
                for f2, _w2, b in _fields(v):
                    if f2 == 1:
                        nid = _zigzag(b) if isinstance(b, int) else 0
                    elif f2 == 2:
                        keys = _packed_varints(b)
                    elif f2 == 3:
                        vals = _packed_varints(b)
                    elif f2 == 8:
                        lat = _zigzag(b)
                    elif f2 == 9:
                        lon = _zigzag(b)
                rows.append({
                    "kind": "node", "id": nid,
                    "tags": {stringtable[k]: stringtable[w] for k, w in zip(keys, vals)} or None,
                    "refs": None,
                    "lat": coord(lat_off, granularity, lat),
                    "lon": coord(lon_off, granularity, lon),
                    "ref_roles": None, "ref_types": None,
                })
            elif fno == 3:  # Way
                wid = 0
                keys = vals = []
                refs: List[int] = []
                for f2, _w2, b in _fields(v):
                    if f2 == 1:
                        wid = b
                    elif f2 == 2:
                        keys = _packed_varints(b)
                    elif f2 == 3:
                        vals = _packed_varints(b)
                    elif f2 == 8:
                        deltas = _packed_varints(b, signed=True)
                        acc = 0
                        refs = []
                        for d in deltas:
                            acc += d
                            refs.append(acc)
                rows.append({
                    "kind": "way", "id": wid,
                    "tags": {stringtable[k]: stringtable[w] for k, w in zip(keys, vals)} or None,
                    "refs": refs or None, "lat": None, "lon": None,
                    "ref_roles": None, "ref_types": None,
                })
            elif fno == 4:  # Relation
                rid = 0
                keys = vals = []
                roles: List[int] = []
                memids: List[int] = []
                types: List[int] = []
                for f2, _w2, b in _fields(v):
                    if f2 == 1:
                        rid = b
                    elif f2 == 2:
                        keys = _packed_varints(b)
                    elif f2 == 3:
                        vals = _packed_varints(b)
                    elif f2 == 8:
                        roles = _packed_varints(b)
                    elif f2 == 9:
                        deltas = _packed_varints(b, signed=True)
                        acc = 0
                        memids = []
                        for d in deltas:
                            acc += d
                            memids.append(acc)
                    elif f2 == 10:
                        types = _packed_varints(b)
                tname = ["node", "way", "relation"]
                rows.append({
                    "kind": "relation", "id": rid,
                    "tags": {stringtable[k]: stringtable[w] for k, w in zip(keys, vals)} or None,
                    "refs": memids or None, "lat": None, "lon": None,
                    "ref_roles": [stringtable[r] for r in roles] or None,
                    "ref_types": [tname[t] for t in types] or None,
                })
    return rows


def read_blob_rows(path: str, offset: int, size: int) -> List[dict]:
    """Executor-side: decode one OSMData blob at (offset, size)."""
    with open(path, "rb") as fh:
        fh.seek(offset)
        blob = fh.read(size)
    return decode_block(_decompress_blob(blob))


# ------------------------------------------------------------ encoder (tests)

def _enc_varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_zigzag(v: int) -> bytes:
    return _enc_varint((v << 1) ^ (v >> 63) if v < 0 else v << 1)


def _enc_field(fno: int, payload: bytes) -> bytes:
    return _enc_varint(fno << 3 | 2) + _enc_varint(len(payload)) + payload


def _enc_vint_field(fno: int, v: int) -> bytes:
    return _enc_varint(fno << 3 | 0) + _enc_varint(v)


def write_osm_pbf(path: str, nodes, ways=(), relations=(), compress=True):
    """Write a single-block .osm.pbf. nodes = [(id, lat, lon, {tags})],
    ways = [(id, [refs], {tags})], relations = [(id, [(memid, type, role)],
    {tags})]."""
    strings: List[str] = [""]

    def sid(s: str) -> int:
        if s in strings:
            return strings.index(s)
        strings.append(s)
        return len(strings) - 1

    group = bytearray()
    if nodes:
        ids = b"".join(
            _enc_zigzag(nid - (nodes[i - 1][0] if i else 0))
            for i, (nid, _la, _lo, _t) in enumerate(nodes)
        )
        lats = b"".join(
            _enc_zigzag(int(round(la * 1e7)) - (int(round(nodes[i - 1][1] * 1e7)) if i else 0))
            for i, (_n, la, _lo, _t) in enumerate(nodes)
        )
        lons = b"".join(
            _enc_zigzag(int(round(lo * 1e7)) - (int(round(nodes[i - 1][2] * 1e7)) if i else 0))
            for i, (_n, _la, lo, _t) in enumerate(nodes)
        )
        kv = bytearray()
        for _n, _la, _lo, tags in nodes:
            for k, v in (tags or {}).items():
                kv += _enc_varint(sid(k)) + _enc_varint(sid(v))
            kv += _enc_varint(0)
        dense = (
            _enc_field(1, ids) + _enc_field(8, lats) + _enc_field(9, lons)
            + _enc_field(10, bytes(kv))
        )
        group += _enc_field(2, dense)
    for wid, refs, tags in ways:
        body = _enc_vint_field(1, wid)
        keys = b"".join(_enc_varint(sid(k)) for k in (tags or {}))
        vals = b"".join(_enc_varint(sid(v)) for v in (tags or {}).values())
        if keys:
            body += _enc_field(2, keys) + _enc_field(3, vals)
        deltas = bytearray()
        prev = 0
        for r in refs:
            deltas += _enc_zigzag(r - prev)
            prev = r
        body += _enc_field(8, bytes(deltas))
        group += _enc_field(3, body)
    for rid, members, tags in relations:
        body = _enc_vint_field(1, rid)
        keys = b"".join(_enc_varint(sid(k)) for k in (tags or {}))
        vals = b"".join(_enc_varint(sid(v)) for v in (tags or {}).values())
        if keys:
            body += _enc_field(2, keys) + _enc_field(3, vals)
        roles = b"".join(_enc_varint(sid(role)) for _m, _t, role in members)
        deltas = bytearray()
        prev = 0
        for m, _t, _role in members:
            deltas += _enc_zigzag(m - prev)
            prev = m
        tmap = {"node": 0, "way": 1, "relation": 2}
        types = b"".join(_enc_varint(tmap[t]) for _m, t, _role in members)
        body += _enc_field(8, roles) + _enc_field(9, bytes(deltas)) + _enc_field(10, types)
        group += _enc_field(4, body)

    st = b"".join(_enc_field(1, s.encode()) for s in strings)
    block = (
        _enc_field(1, st) + _enc_field(2, bytes(group))
        + _enc_vint_field(17, 100) + _enc_vint_field(19, 0) + _enc_vint_field(20, 0)
    )
    payload = zlib.compress(block) if compress else block
    blob = (
        (_enc_field(3, payload) + _enc_vint_field(2, len(block)))
        if compress else _enc_field(1, block)
    )

    def blob_rec(btype: str, blob_bytes: bytes) -> bytes:
        header = _enc_field(1, btype.encode()) + _enc_vint_field(3, len(blob_bytes))
        return struct.pack(">i", len(header)) + header + blob_bytes

    hdr_block = _enc_field(4, b"DenseNodes")  # required_features
    hdr_blob = _enc_field(1, hdr_block)
    with open(path, "wb") as fh:
        fh.write(blob_rec("OSMHeader", hdr_blob))
        fh.write(blob_rec("OSMData", blob))
