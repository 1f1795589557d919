"""General polygon overlay (intersection / union / difference) via convex
decomposition.

The reference delegates these to GEOS (st_intersection.cpp, st_union.cpp,
st_difference.cpp); this engine computes them natively:

1. every input region is decomposed into convex pieces — ear-clip
   triangulation of each shell, then holes subtracted piece-by-piece with
   convex differences;
2. boolean ops reduce to convex∩convex (Sutherland–Hodgman against a convex
   clip) and convex∖convex (half-plane sweep decomposition, yielding convex
   pieces);
3. the result is re-emitted as POLYGON / MULTIPOLYGON of the surviving
   pieces (region-exact and area-exact; piece boundaries are not dissolved —
   the same set-of-points answer GEOS gives, in undissolved form).

Everything is float64 NumPy; degenerate (near-zero-area) pieces are dropped
at _EPS_AREA.
"""

from __future__ import annotations

import math
from typing import List, Optional

import numpy as np

from .core import (
    GEOMETRYCOLLECTION,
    MULTIPOLYGON,
    POLYGON,
    Geometry,
)

_EPS_AREA = 1e-12


def _signed_area(pts: np.ndarray) -> float:
    x, y = pts[:, 0], pts[:, 1]
    return 0.5 * float(
        np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)
    )


def _open_ring(ring: np.ndarray) -> np.ndarray:
    """Drop the closing duplicate vertex and exact consecutive duplicates."""
    r = np.asarray(ring, dtype=np.float64)[:, :2]
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    keep = [0]
    for i in range(1, len(r)):
        if not np.array_equal(r[i], r[keep[-1]]):
            keep.append(i)
    r = r[keep]
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    return r


def _ccw(pts: np.ndarray) -> np.ndarray:
    return pts if _signed_area(pts) >= 0 else pts[::-1]


def _cross(o, a, b) -> float:
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _point_in_tri(p, a, b, c) -> bool:
    d1 = _cross(p, a, b)
    d2 = _cross(p, b, c)
    d3 = _cross(p, c, a)
    neg = (d1 < 0) or (d2 < 0) or (d3 < 0)
    pos = (d1 > 0) or (d2 > 0) or (d3 > 0)
    return not (neg and pos)


def ear_triangulate(ring: np.ndarray) -> List[np.ndarray]:
    """O(n²) ear clipping of a simple ring (closed or open input) →
    list of (3,2) triangles. Collinear ears are emitted and later dropped
    by the zero-area filter."""
    pts = _ccw(_open_ring(ring))
    n = len(pts)
    if n < 3:
        return []
    if n == 3:
        return [pts.copy()]
    idx = list(range(n))
    tris: List[np.ndarray] = []
    guard = 0
    while len(idx) > 3 and guard < 2 * n * n:
        guard += 1
        m = len(idx)
        ear_found = False
        for k in range(m):
            i0, i1, i2 = idx[(k - 1) % m], idx[k], idx[(k + 1) % m]
            a, b, c = pts[i0], pts[i1], pts[i2]
            cr = _cross(a, b, c)
            if cr < -_EPS_AREA:
                continue  # reflex
            # no other active vertex strictly inside the candidate ear
            ok = True
            if cr > _EPS_AREA:
                for j in idx:
                    if j in (i0, i1, i2):
                        continue
                    if _point_in_tri(pts[j], a, b, c):
                        ok = False
                        break
            if ok:
                tris.append(np.asarray([a, b, c]))
                idx.pop(k)
                ear_found = True
                break
        if not ear_found:
            # numerically stuck (self-touching ring): emit a fan as a
            # best-effort and stop — zero-area pieces wash out
            break
    if len(idx) >= 3:
        base = idx[0]
        for k in range(1, len(idx) - 1):
            tris.append(np.asarray([pts[base], pts[idx[k]], pts[idx[k + 1]]]))
    return [t for t in tris if abs(_signed_area(t)) > _EPS_AREA]


def _clip_halfplane(pts, a, b, keep_left: bool):
    """One Sutherland–Hodgman pass: keep the part of `pts` on the left
    (or right) of the infinite line a→b. pts is a list of (x, y) tuples.
    Cross products and the (convex-typical) ≤2 boundary crossings are
    computed vectorized; >2 crossings (non-convex subject) falls back to
    the per-vertex walk."""
    if not pts:
        return []
    sgn = 1.0 if keep_left else -1.0
    arr = np.asarray(pts, dtype=np.float64)
    ex, ey = b[0] - a[0], b[1] - a[1]
    cr = sgn * (ex * (arr[:, 1] - a[1]) - ey * (arr[:, 0] - a[0]))
    ins = cr >= 0
    if ins.all():
        return pts
    if not ins.any():
        return []
    prv_ins = np.roll(ins, 1)
    trans = np.flatnonzero(ins != prv_ins)

    def x_pt(j):  # crossing on edge (j-1, j): cr is affine along the edge
        p, q = arr[j - 1], arr[j]
        cp, cq = cr[j - 1], cr[j]
        t = cp / (cp - cq)
        return (float(p[0] + t * (q[0] - p[0])), float(p[1] + t * (q[1] - p[1])))

    if len(trans) == 2:
        j1, j2 = int(trans[0]), int(trans[1])
        ent, lev = (j1, j2) if ins[j1] else (j2, j1)
        k = len(arr)
        idx = np.arange(ent, ent + (lev - ent) % k) % k
        out = [x_pt(ent)]
        out.extend(map(tuple, arr[idx]))
        out.append(x_pt(lev))
        return out
    out = []
    k = len(arr)
    for j in range(k):
        if ins[j]:
            if not prv_ins[j]:
                out.append(x_pt(j))
            out.append(tuple(arr[j]))
        elif prv_ins[j]:
            out.append(x_pt(j))
    return out


def _finish(pts) -> Optional[np.ndarray]:
    if len(pts) < 3:
        return None
    arr = np.asarray(pts, dtype=np.float64)
    # collapse near-duplicate consecutive vertices (clip passes emit the
    # same intersection point twice); a leftover zero-length edge would
    # degenerate later half-plane tests
    span = max(float(np.ptp(arr[:, 0])), float(np.ptp(arr[:, 1])), 1e-30)
    eps = span * 1e-12
    keep = []
    for i in range(len(arr)):
        prv = arr[keep[-1]] if keep else arr[-1]
        if keep and abs(arr[i, 0] - prv[0]) <= eps and abs(arr[i, 1] - prv[1]) <= eps:
            continue
        keep.append(i)
    # also drop a last point equal to the first
    while len(keep) > 1 and (
        abs(arr[keep[-1], 0] - arr[keep[0], 0]) <= eps
        and abs(arr[keep[-1], 1] - arr[keep[0], 1]) <= eps
    ):
        keep.pop()
    arr = arr[keep]
    if len(arr) < 3 or abs(_signed_area(arr)) <= _EPS_AREA:
        return None
    return arr


def convex_clip(subject: np.ndarray, clip: np.ndarray) -> Optional[np.ndarray]:
    """Sutherland–Hodgman: clip any polygon against a CONVEX CCW clip
    polygon. Returns open CCW ring or None when empty."""
    out = [tuple(p) for p in subject]
    m = len(clip)
    span = max(float(np.ptp(clip[:, 0])), float(np.ptp(clip[:, 1])), 1e-30)
    eps = span * 1e-12
    for i in range(m):
        e0, e1 = clip[i], clip[(i + 1) % m]
        if abs(e1[0] - e0[0]) <= eps and abs(e1[1] - e0[1]) <= eps:
            continue  # degenerate clip edge
        out = _clip_halfplane(out, e0, e1, keep_left=True)
        if not out:
            return None
    return _finish(out)


def convex_diff(piece: np.ndarray, clip: np.ndarray) -> List[np.ndarray]:
    """piece ∖ clip for convex CCW `clip`: sweep the clip's half-planes —
    piece ∩ outside(e_i) ∩ inside(e_1..e_{i-1}) are disjoint convex covers
    of the difference."""
    out: List[np.ndarray] = []
    rem = [tuple(p) for p in piece]
    m = len(clip)
    span = max(float(np.ptp(clip[:, 0])), float(np.ptp(clip[:, 1])), 1e-30)
    eps = span * 1e-12
    for i in range(m):
        if not rem:
            break
        e0, e1 = clip[i], clip[(i + 1) % m]
        if abs(e1[0] - e0[0]) <= eps and abs(e1[1] - e0[1]) <= eps:
            continue  # degenerate clip edge
        outside = _finish(_clip_halfplane(rem, e0, e1, keep_left=False))
        if outside is not None:
            out.append(outside)
        rem = _clip_halfplane(rem, e0, e1, keep_left=True)
    return out


def region_pieces(g: Geometry) -> List[np.ndarray]:
    """Decompose the 2-dimensional part of a geometry into convex CCW
    pieces (shell triangles ⊖ hole triangles)."""
    pieces: List[np.ndarray] = []
    for leaf in g.flatten():
        if leaf.type_id != POLYGON or not leaf.rings:
            continue
        shell_tris = ear_triangulate(leaf.rings[0])
        cur = shell_tris
        for hole in leaf.rings[1:]:
            hole_tris = ear_triangulate(hole)
            for ht in hole_tris:
                ht = _ccw(ht)
                nxt: List[np.ndarray] = []
                for p in cur:
                    nxt.extend(convex_diff(p, ht))
                cur = nxt
        pieces.extend(cur)
    return [p for p in pieces if abs(_signed_area(p)) > _EPS_AREA]


def _pieces_to_geometry(pieces: List[np.ndarray]) -> Geometry:
    polys = []
    for p in pieces:
        ring = np.vstack([p, p[:1]])
        polys.append(Geometry(POLYGON, rings=[ring]))
    if not polys:
        return Geometry.empty(GEOMETRYCOLLECTION)
    if len(polys) == 1:
        return polys[0]
    return Geometry.collection(MULTIPOLYGON, polys)


def _pairwise_intersect(pa: List[np.ndarray], pb: List[np.ndarray]) -> List[np.ndarray]:
    out = []
    for a in pa:
        for b in pb:
            # cheap bbox reject
            if (a[:, 0].min() > b[:, 0].max() or b[:, 0].min() > a[:, 0].max()
                    or a[:, 1].min() > b[:, 1].max() or b[:, 1].min() > a[:, 1].max()):
                continue
            c = convex_clip(a, _ccw(b))
            if c is not None:
                out.append(c)
    return out


def _subtract_region(pa: List[np.ndarray], pb: List[np.ndarray]) -> List[np.ndarray]:
    cur = pa
    for b in pb:
        b = _ccw(b)
        nxt: List[np.ndarray] = []
        for p in cur:
            if (p[:, 0].min() > b[:, 0].max() or b[:, 0].min() > p[:, 0].max()
                    or p[:, 1].min() > b[:, 1].max() or b[:, 1].min() > p[:, 1].max()):
                nxt.append(p)
            else:
                nxt.extend(convex_diff(p, b))
        cur = nxt
    return [p for p in cur if abs(_signed_area(p)) > _EPS_AREA]


def polygon_intersection(a: Geometry, b: Geometry) -> Geometry:
    return _pieces_to_geometry(_pairwise_intersect(region_pieces(a), region_pieces(b)))


def polygon_union(a: Geometry, b: Geometry) -> Geometry:
    pa, pb = region_pieces(a), region_pieces(b)
    return _pieces_to_geometry(pa + _subtract_region(pb, pa))


def polygon_difference(a: Geometry, b: Geometry) -> Geometry:
    return _pieces_to_geometry(_subtract_region(region_pieces(a), region_pieces(b)))


# -------------------------------------------------------- line ∩ region

def _clip_segment_convex(p: np.ndarray, q: np.ndarray, piece: np.ndarray):
    """Cyrus–Beck parametric clip of segment pq against a convex CCW piece.
    Returns (t0, t1) in [0,1] or None."""
    t0, t1 = 0.0, 1.0
    d = q - p
    m = len(piece)
    for i in range(m):
        a, b = piece[i], piece[(i + 1) % m]
        # inward normal of CCW edge a→b is left: n = (-(by-ay), bx-ax)
        nx, ny = -(b[1] - a[1]), b[0] - a[0]
        denom = nx * d[0] + ny * d[1]
        num = nx * (a[0] - p[0]) + ny * (a[1] - p[1])
        if denom == 0:
            if num > 0:  # parallel and fully outside this half-plane
                return None
            continue
        t = num / denom
        if denom > 0:  # entering the half-plane as t grows
            if t > t0:
                t0 = t
        else:  # leaving
            if t < t1:
                t1 = t
        if t0 > t1:
            return None
    return (t0, t1)


def line_region_intersection(line: Geometry, region: Geometry) -> Geometry:
    """LINESTRING/MULTILINESTRING ∩ polygonal region → MULTILINESTRING of
    clipped sub-segments (pieces are interior-disjoint, so lengths add up
    exactly; zero-length touches are dropped)."""
    from .core import LINESTRING, MULTILINESTRING

    pieces = region_pieces(region)
    segs: List[np.ndarray] = []
    for leaf in line.flatten():
        if leaf.type_id != LINESTRING or leaf.coords is None:
            continue
        c = leaf.coords[:, :2]
        for i in range(len(c) - 1):
            p, q = c[i], c[i + 1]
            ivals = []
            for piece in pieces:
                r = _clip_segment_convex(p, q, piece)
                if r is not None and r[1] - r[0] > 1e-12:
                    ivals.append(r)
            # merge overlapping parameter intervals — a segment lying on a
            # shared piece edge is claimed by both pieces
            ivals.sort()
            merged = []
            for t0, t1 in ivals:
                if merged and t0 <= merged[-1][1] + 1e-12:
                    merged[-1][1] = max(merged[-1][1], t1)
                else:
                    merged.append([t0, t1])
            for t0, t1 in merged:
                segs.append(np.vstack([p + t0 * (q - p), p + t1 * (q - p)]))
    if not segs:
        return Geometry.empty(LINESTRING)
    if len(segs) == 1:
        return Geometry(LINESTRING, coords=segs[0])
    return Geometry.collection(
        MULTILINESTRING, [Geometry(LINESTRING, coords=s) for s in segs]
    )


def line_region_difference(line: Geometry, region: Geometry) -> Geometry:
    """LINESTRING/MULTILINESTRING − polygonal region → the sub-segments
    OUTSIDE the region's closure (complement intervals of the clip —
    same interval engine as line_region_intersection, kept pieces are the
    gaps between merged covered intervals)."""
    from .core import LINESTRING, MULTILINESTRING

    pieces = region_pieces(region)
    segs: List[np.ndarray] = []
    for leaf in line.flatten():
        if leaf.type_id != LINESTRING or leaf.coords is None:
            continue
        c = leaf.coords[:, :2]
        for i in range(len(c) - 1):
            p, q = c[i], c[i + 1]
            ivals = []
            for piece in pieces:
                r = _clip_segment_convex(p, q, piece)
                if r is not None and r[1] - r[0] > 1e-12:
                    ivals.append(r)
            ivals.sort()
            merged: List[List[float]] = []
            for t0, t1 in ivals:
                if merged and t0 <= merged[-1][1] + 1e-12:
                    merged[-1][1] = max(merged[-1][1], t1)
                else:
                    merged.append([t0, t1])
            cur = 0.0
            for t0, t1 in merged:
                if t0 - cur > 1e-12:
                    segs.append(np.vstack([p + cur * (q - p), p + t0 * (q - p)]))
                cur = max(cur, t1)
            if 1.0 - cur > 1e-12:
                segs.append(np.vstack([p + cur * (q - p), p + 1.0 * (q - p)]))
    if not segs:
        return Geometry.empty(LINESTRING)
    if len(segs) == 1:
        return Geometry(LINESTRING, coords=segs[0])
    return Geometry.collection(
        MULTILINESTRING, [Geometry(LINESTRING, coords=s) for s in segs]
    )


# -------------------------------------------------------- line ∩ line

def _seg_seg_intersection(p, r_, q, s_):
    """Segment p→p+r vs q→q+s: returns ('point', xy) | ('overlap', a, b)
    | None. Endpoint touches count as points."""
    rxs = r_[0] * s_[1] - r_[1] * s_[0]
    qp = (q[0] - p[0], q[1] - p[1])
    qpxr = qp[0] * r_[1] - qp[1] * r_[0]
    if rxs == 0:
        if qpxr != 0:
            return None  # parallel, non-collinear
        rr = r_[0] * r_[0] + r_[1] * r_[1]
        if rr == 0:
            return None
        t0 = (qp[0] * r_[0] + qp[1] * r_[1]) / rr
        t1 = t0 + (s_[0] * r_[0] + s_[1] * r_[1]) / rr
        lo, hi = min(t0, t1), max(t0, t1)
        lo, hi = max(lo, 0.0), min(hi, 1.0)
        if lo > hi:
            return None
        a = (p[0] + lo * r_[0], p[1] + lo * r_[1])
        b = (p[0] + hi * r_[0], p[1] + hi * r_[1])
        if lo == hi:
            return ("point", a)
        return ("overlap", a, b)
    t = (qp[0] * s_[1] - qp[1] * s_[0]) / rxs
    u = qpxr / rxs
    if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
        return ("point", (p[0] + t * r_[0], p[1] + t * r_[1]))
    return None


def line_line_intersection(a: Geometry, b: Geometry) -> Geometry:
    """(MULTI)LINESTRING ∩ (MULTI)LINESTRING → points and/or collinear
    overlap segments (MULTIPOINT / MULTILINESTRING / GEOMETRYCOLLECTION)."""
    from .core import LINESTRING, MULTILINESTRING, MULTIPOINT

    pts = []
    segs = []
    seen_pts = set()
    for la in a.flatten():
        if la.type_id != LINESTRING or la.coords is None:
            continue
        ca = la.coords[:, :2]
        for i in range(len(ca) - 1):
            p = (float(ca[i, 0]), float(ca[i, 1]))
            r_ = (float(ca[i + 1, 0] - ca[i, 0]), float(ca[i + 1, 1] - ca[i, 1]))
            for lb in b.flatten():
                if lb.type_id != LINESTRING or lb.coords is None:
                    continue
                cb = lb.coords[:, :2]
                for j in range(len(cb) - 1):
                    q = (float(cb[j, 0]), float(cb[j, 1]))
                    s_ = (float(cb[j + 1, 0] - cb[j, 0]), float(cb[j + 1, 1] - cb[j, 1]))
                    hit = _seg_seg_intersection(p, r_, q, s_)
                    if hit is None:
                        continue
                    if hit[0] == "point":
                        key = (round(hit[1][0], 12), round(hit[1][1], 12))
                        if key not in seen_pts:
                            seen_pts.add(key)
                            pts.append(hit[1])
                    else:
                        segs.append((hit[1], hit[2]))
    import numpy as _np

    # drop points lying on an overlap segment (they're covered by it)
    def on_seg(pt, s):
        (x0, y0), (x1, y1) = s
        cross = (x1 - x0) * (pt[1] - y0) - (y1 - y0) * (pt[0] - x0)
        if abs(cross) > 1e-12:
            return False
        return min(x0, x1) - 1e-12 <= pt[0] <= max(x0, x1) + 1e-12 and \
            min(y0, y1) - 1e-12 <= pt[1] <= max(y0, y1) + 1e-12

    pts = [p for p in pts if not any(on_seg(p, s) for s in segs)]
    point_geoms = [Geometry(1, coords=_np.asarray(p)) for p in pts]
    seg_geoms = [
        Geometry(2, coords=_np.asarray([s[0], s[1]], dtype=_np.float64)) for s in segs
    ]
    if not point_geoms and not seg_geoms:
        return Geometry.empty(GEOMETRYCOLLECTION)
    if not seg_geoms:
        return point_geoms[0] if len(point_geoms) == 1 else Geometry.collection(MULTIPOINT, point_geoms)
    if not point_geoms:
        return seg_geoms[0] if len(seg_geoms) == 1 else Geometry.collection(MULTILINESTRING, seg_geoms)
    return Geometry.collection(GEOMETRYCOLLECTION, point_geoms + seg_geoms)


def _line_pieces(a: Geometry, b: Geometry, drop_covered: bool) -> List[np.ndarray]:
    """Pieces of ``a``'s segments noded at every intersection with ``b``;
    with ``drop_covered`` the pieces collinearly covered by ``b`` are
    dropped (the 1D difference). This is the noding step of GEOS-style
    line/line overlay (the reference delegates to GEOS OverlayNG,
    geos/.../st_union.cpp:65)."""
    from .core import LINESTRING

    out: List[np.ndarray] = []
    for la in a.flatten():
        if la.type_id != LINESTRING or la.coords is None:
            continue
        ca = la.coords[:, :2]
        for i in range(len(ca) - 1):
            p, q = ca[i], ca[i + 1]
            r_ = q - p
            rr = float(r_[0] * r_[0] + r_[1] * r_[1])
            if rr == 0.0:
                continue
            cuts = {0.0, 1.0}
            covered: List[List[float]] = []
            for lb in b.flatten():
                if lb.type_id != LINESTRING or lb.coords is None:
                    continue
                cb = lb.coords[:, :2]
                for j in range(len(cb) - 1):
                    hit = _seg_seg_intersection(
                        (float(p[0]), float(p[1])),
                        (float(r_[0]), float(r_[1])),
                        (float(cb[j, 0]), float(cb[j, 1])),
                        (float(cb[j + 1, 0] - cb[j, 0]),
                         float(cb[j + 1, 1] - cb[j, 1])),
                    )
                    if hit is None:
                        continue
                    if hit[0] == "point":
                        t = ((hit[1][0] - p[0]) * r_[0]
                             + (hit[1][1] - p[1]) * r_[1]) / rr
                        cuts.add(min(1.0, max(0.0, t)))
                    else:
                        t0 = ((hit[1][0] - p[0]) * r_[0]
                              + (hit[1][1] - p[1]) * r_[1]) / rr
                        t1 = ((hit[2][0] - p[0]) * r_[0]
                              + (hit[2][1] - p[1]) * r_[1]) / rr
                        lo, hi = sorted((t0, t1))
                        lo, hi = max(0.0, lo), min(1.0, hi)
                        covered.append([lo, hi])
                        cuts.add(lo)
                        cuts.add(hi)
            covered.sort()
            merged: List[List[float]] = []
            for lo, hi in covered:
                if merged and lo <= merged[-1][1] + 1e-12:
                    merged[-1][1] = max(merged[-1][1], hi)
                else:
                    merged.append([lo, hi])
            ts = sorted(cuts)
            for t0, t1 in zip(ts[:-1], ts[1:]):
                if t1 - t0 <= 1e-12:
                    continue
                if drop_covered:
                    mid = 0.5 * (t0 + t1)
                    if any(lo - 1e-12 <= mid <= hi + 1e-12 for lo, hi in merged):
                        continue
                out.append(np.vstack([p + t0 * r_, p + t1 * r_]))
    return out


def _segs_geom(segs: List[np.ndarray], empty_type: int) -> Geometry:
    from .core import LINESTRING, MULTILINESTRING

    if not segs:
        return Geometry.empty(empty_type)
    if len(segs) == 1:
        return Geometry(LINESTRING, coords=segs[0])
    return Geometry.collection(
        MULTILINESTRING, [Geometry(LINESTRING, coords=s) for s in segs]
    )


def line_line_union(a: Geometry, b: Geometry) -> Geometry:
    """1D ∪ 1D: a's segments noded at every crossing, plus b's pieces not
    collinearly covered by a (so overlaps count once)."""
    from .core import LINESTRING

    segs = _line_pieces(a, b, drop_covered=False) + _line_pieces(
        b, a, drop_covered=True
    )
    return _segs_geom(segs, LINESTRING)


def line_line_difference(a: Geometry, b: Geometry) -> Geometry:
    """1D − 1D: a's noded pieces minus the collinearly covered ones
    (0-dim crossings remove no length — they only node)."""
    return _segs_geom(_line_pieces(a, b, drop_covered=True), a.type_id)


# ============================================================ buffer
# The reference delegates ST_Buffer to GEOS (geos/.../st_buffer.cpp, round
# caps, quad_segs=8 default). Here dilation/erosion by a disk reduces to the
# convex-piece engine:
#   dilate(G, d)  = G ∪ ⋃ capsule(segment_i, d)   (Minkowski sum with a disk:
#                   every boundary/line segment contributes a convex capsule —
#                   the hull of the two endpoint disks)
#   erode(P, d)   = P ∖ ⋃ capsule(boundary segment_i, d)
#                   (a point is within d of the boundary iff it lies in some
#                   edge capsule, so subtracting the capsules leaves P ⊖ d)
# Disks are the 4·quad_segs-gon approximation (GEOS quadsegs convention);
# capsule end caps sample the same angular grid, so unions of caps at shared
# vertices re-compose exact n-gon wedges (area closed forms hold — tests).


def _arc_pts(cx: float, cy: float, d: float, a0: float, a1: float, nseg: int) -> np.ndarray:
    ang = np.linspace(a0, a1, nseg + 1)
    return np.column_stack([cx + d * np.cos(ang), cy + d * np.sin(ang)])


def _circle_piece(cx: float, cy: float, d: float, quad_segs: int) -> np.ndarray:
    n = max(4, 4 * quad_segs)
    ang = np.linspace(0.0, 2.0 * math.pi, n, endpoint=False)
    return np.column_stack([cx + d * np.cos(ang), cy + d * np.sin(ang)])


def _capsule_piece(p, q, d: float, quad_segs: int) -> np.ndarray:
    """Convex CCW capsule around segment p→q with radius d: two straight
    sides + semicircular end caps of 2·quad_segs segments each, cap vertices
    on the global angle grid (multiples of π/(2·quad_segs) from the segment
    normal) so adjacent capsules' caps fuse into exact n-gon wedges."""
    px, py = float(p[0]), float(p[1])
    qx, qy = float(q[0]), float(q[1])
    dx, dy = qx - px, qy - py
    L = math.hypot(dx, dy)
    if L <= 0:
        return _circle_piece(px, py, d, quad_segs)
    theta = math.atan2(dy, dx)
    nseg = max(1, 2 * quad_segs)
    # CCW: right side p→q, cap around q (θ-π/2 → θ+π/2), left side q→p,
    # cap around p (θ+π/2 → θ+3π/2)
    cap_q = _arc_pts(qx, qy, d, theta - math.pi / 2, theta + math.pi / 2, nseg)
    cap_p = _arc_pts(px, py, d, theta + math.pi / 2, theta + 3 * math.pi / 2, nseg)
    return _open_ring(np.vstack([cap_q, cap_p]))


def _accumulate_union(acc: List[np.ndarray], new_pieces: List[np.ndarray]) -> None:
    """acc ∪= new convex pieces, keeping acc a disjoint convex cover."""
    for c in new_pieces:
        acc.extend(_subtract_region([c], acc))


def _boundary_capsules(g: Geometry, d: float, quad_segs: int,
                       join: str = "round",
                       mitre_limit: float = 1.0) -> List[np.ndarray]:
    """Disk-buffer cover of every polygon ring of g: one rect per segment +
    one join piece per vertex (disk for round joins — same union as
    per-segment capsules; mitre/bevel wedge otherwise; rect-first ordering
    keeps accumulated subtractions clipping against 4-gons)."""
    rects: List[np.ndarray] = []
    joins: List[np.ndarray] = []
    for leaf in g.flatten():
        if leaf.type_id != POLYGON or not leaf.rings:
            continue
        for ring in leaf.rings:
            r = np.asarray(ring, dtype=np.float64)[:, :2]
            nseg = len(r) - 1
            for i in range(nseg):
                rect = _seg_rect_piece(r[i], r[i + 1], d)
                if rect is not None:
                    rects.append(rect)
                if join == "round":
                    joins.append(_circle_piece(float(r[i, 0]), float(r[i, 1]), d, quad_segs))
            if join != "round" and nseg > 0:
                dirs = _unit_dirs(r)
                for i in range(nseg):
                    # incoming edge wraps to the ring's last segment at i=0
                    u1 = next((dirs[j % nseg] for j in range(i - 1, i - 1 - nseg, -1)
                               if dirs[j % nseg] is not None), None)
                    u2 = next((dirs[j % nseg] for j in range(i, i + nseg)
                               if dirs[j % nseg] is not None), None)
                    if u1 is not None and u2 is not None:
                        jp = _join_piece(r[i], u1, u2, d, join, mitre_limit)
                        if jp is not None:
                            joins.append(jp)
    return rects + joins


def _rect_of(g: Geometry):
    """(xmin, ymin, xmax, ymax) when g is a single-ring axis-aligned
    positive-area rectangle polygon; None otherwise."""
    if g.type_id != POLYGON or len(g.rings) != 1:
        return None
    r = np.asarray(g.rings[0], dtype=np.float64)[:, :2]
    if len(r) != 5 or not np.array_equal(r[0], r[4]):
        return None
    xmin, ymin = r[:4].min(axis=0)
    xmax, ymax = r[:4].max(axis=0)
    if xmax <= xmin or ymax <= ymin:
        return None
    on_edge = ((r[:4, 0] == xmin) | (r[:4, 0] == xmax)) & (
        (r[:4, 1] == ymin) | (r[:4, 1] == ymax)
    )
    if not on_edge.all() or len({tuple(p) for p in r[:4]}) != 4:
        return None
    return float(xmin), float(ymin), float(xmax), float(ymax)


def _buffer_rect(xmin, ymin, xmax, ymax, dist: float, quad_segs: int,
                 join: str = "round",
                 mitre_limit: float = 1.0) -> List[np.ndarray]:
    """Closed-form rectangle buffer as disjoint convex pieces — no clipping.
    Dilation: core + 4 side rects + 4 corner pieces (quarter-n-gon fan for
    round joins, closed-form triangle/square wedge for bevel/mitre);
    erosion: the shrunk rect (or nothing)."""
    if dist < 0:
        d = -dist
        if xmax - xmin <= 2 * d or ymax - ymin <= 2 * d:
            return []
        return [np.array([
            [xmin + d, ymin + d], [xmax - d, ymin + d],
            [xmax - d, ymax - d], [xmin + d, ymax - d],
        ])]
    d = dist
    pieces = [
        np.array([[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax]]),
        np.array([[xmin - d, ymin], [xmin, ymin], [xmin, ymax], [xmin - d, ymax]]),
        np.array([[xmax, ymin], [xmax + d, ymin], [xmax + d, ymax], [xmax, ymax]]),
        np.array([[xmin, ymax], [xmax, ymax], [xmax, ymax + d], [xmin, ymax + d]]),
        np.array([[xmin, ymin - d], [xmax, ymin - d], [xmax, ymin], [xmin, ymin]]),
    ]
    corners = [
        (xmax, ymax, 0.0), (xmin, ymax, math.pi / 2),
        (xmin, ymin, math.pi), (xmax, ymin, 3 * math.pi / 2),
    ]
    nseg = max(1, quad_segs)
    for cx, cy, a0 in corners:
        if join == "round":
            arc = _arc_pts(cx, cy, d, a0, a0 + math.pi / 2, nseg)
            pieces.append(np.vstack([[cx, cy], arc]))
        else:
            # right-angle corner: outward unit dirs of the two meeting edges
            c1 = np.array([cx + d * math.cos(a0), cy + d * math.sin(a0)])
            c2 = np.array([cx + d * math.cos(a0 + math.pi / 2),
                           cy + d * math.sin(a0 + math.pi / 2)])
            v = np.array([cx, cy])
            if join == "bevel":
                pieces.append(_ccw(np.array([v, c1, c2])))
            else:
                u1 = (c2 - v) / d  # incoming edge direction at this corner
                u2 = (v - c1) / d
                jp = _join_piece(v, u1, u2, d, "mitre", mitre_limit)
                if jp is not None:
                    pieces.append(jp)
    return pieces


def _join_piece(v, u1, u2, d: float, join: str,
                mitre_limit: float) -> Optional[np.ndarray]:
    """Convex CCW piece filling the wedge gap on the outer side of the turn
    at vertex ``v`` between incoming unit direction ``u1`` and outgoing unit
    direction ``u2`` — the reference's JOIN_MITRE / JOIN_BEVEL
    (geos/.../st_buffer.cpp:78-79; mitre_limit semantics :104).  Bevel:
    triangle (v, c1, c2) over the two offset corners.  Mitre: quad through
    the offset-line intersection, clipped perpendicular to the bisector at
    ``mitre_limit * d`` when the miter ratio exceeds the limit (GEOS
    limited-mitre behavior)."""
    cross = u1[0] * u2[1] - u1[1] * u2[0]
    if abs(cross) < 1e-15:
        return None  # collinear (no gap) or 180-degree spike (zero-area miter)
    if cross > 0:  # left turn: gap on the right side
        n1 = np.array([u1[1], -u1[0]])
        n2 = np.array([u2[1], -u2[0]])
    else:
        n1 = np.array([-u1[1], u1[0]])
        n2 = np.array([-u2[1], u2[0]])
    v = np.asarray(v, dtype=np.float64)
    c1 = v + d * n1
    c2 = v + d * n2
    if join == "bevel":
        return _ccw(np.array([v, c1, c2]))
    bis = n1 + n2
    nb = math.hypot(bis[0], bis[1])
    if nb < 1e-12:
        return _ccw(np.array([v, c1, c2]))
    bis /= nb
    cos_half = float(bis @ n1)  # = cos(theta/2), theta = turn angle
    if cos_half < 1e-9:
        return _ccw(np.array([v, c1, c2]))
    if 1.0 / cos_half <= mitre_limit:
        m = v + bis * (d / cos_half)
        return _ccw(np.array([v, c1, m, c2]))
    # limited mitre: cut the spike perpendicular to the bisector at
    # distance mitre_limit*d from the vertex
    t = mitre_limit * d
    if t <= d * cos_half + 1e-12:
        return _ccw(np.array([v, c1, c2]))
    sin_half = float(np.asarray(u1, dtype=np.float64) @ bis)
    if sin_half <= 1e-12:
        return _ccw(np.array([v, c1, c2]))
    s = (t - d * cos_half) / sin_half
    m1 = c1 + s * np.asarray(u1, dtype=np.float64)
    m2 = c2 - s * np.asarray(u2, dtype=np.float64)
    return _ccw(np.array([v, c1, m1, m2, c2]))


def _unit_dirs(r: np.ndarray) -> List[Optional[np.ndarray]]:
    """Unit direction of each edge r[i]→r[i+1]; None for degenerate edges."""
    out: List[Optional[np.ndarray]] = []
    for i in range(len(r) - 1):
        dx, dy = float(r[i + 1, 0] - r[i, 0]), float(r[i + 1, 1] - r[i, 1])
        L = math.hypot(dx, dy)
        out.append(None if L <= 0 else np.array([dx / L, dy / L]))
    return out


def _seg_rect_piece(p, q, d: float) -> Optional[np.ndarray]:
    """CCW rectangle of half-width d around segment p→q (no end caps)."""
    dx, dy = float(q[0] - p[0]), float(q[1] - p[1])
    L = math.hypot(dx, dy)
    if L <= 0:
        return None
    nx, ny = -dy / L * d, dx / L * d
    return np.array([
        [p[0] - nx, p[1] - ny], [q[0] - nx, q[1] - ny],
        [q[0] + nx, q[1] + ny], [p[0] + nx, p[1] + ny],
    ], dtype=np.float64)


def _line_buffer_pieces(r: np.ndarray, d: float, quad_segs: int,
                        cap: str, join: str = "round",
                        mitre_limit: float = 1.0) -> List[np.ndarray]:
    """Convex pieces buffering polyline r: per-segment rectangles, a join
    piece at interior vertices (full n-gon disk for round joins, wedge fill
    for mitre/bevel), and the selected cap at each end — 'round' (disk),
    'flat' (nothing), 'square' (d-extension).  The rect+disk decomposition
    yields the same union as per-segment capsules (a capsule = rect + two
    half disks)."""
    pieces: List[np.ndarray] = []
    n = len(r)
    if n == 1 or (n > 1 and not np.any(np.ptp(r, axis=0))):
        return [] if cap == "flat" else [
            _circle_piece(float(r[0, 0]), float(r[0, 1]), d, quad_segs)
        ]
    if n == 2 and cap == "round":
        # single segment: the capsule itself is one convex piece — nothing
        # to resolve
        return [_capsule_piece(r[0], r[1], d, quad_segs)]
    # rect-per-segment + disk-per-vertex decomposition: same union as
    # capsules, but every accumulated subtraction clips against a 4-gon
    # rect (cheap) instead of a 4·quad_segs-gon capsule — keeps the
    # disjoint-piece count linear in segments
    for i in range(n - 1):
        rect = _seg_rect_piece(r[i], r[i + 1], d)
        if rect is not None:
            pieces.append(rect)
    dirs = _unit_dirs(r) if join != "round" else None
    for i in range(1, n - 1):
        if join == "round":
            pieces.append(_circle_piece(float(r[i, 0]), float(r[i, 1]), d, quad_segs))
        else:
            u1 = next((dirs[j] for j in range(i - 1, -1, -1) if dirs[j] is not None), None)
            u2 = next((dirs[j] for j in range(i, n - 1) if dirs[j] is not None), None)
            if u1 is not None and u2 is not None:
                jp = _join_piece(r[i], u1, u2, d, join, mitre_limit)
                if jp is not None:
                    pieces.append(jp)
    for end, nbr in ((0, 1), (n - 1, n - 2)):
        if cap == "round":
            pieces.append(_circle_piece(float(r[end, 0]), float(r[end, 1]), d, quad_segs))
        elif cap == "square":
            dx, dy = r[end, 0] - r[nbr, 0], r[end, 1] - r[nbr, 1]
            L = math.hypot(dx, dy)
            if L > 0:
                ux, uy = dx / L, dy / L
                ext = r[end] + np.array([ux, uy]) * d
                rect = _seg_rect_piece(r[end], ext, d)
                if rect is not None:
                    pieces.append(rect)
    return pieces


def buffer_geometry(g: Geometry, dist: float, quad_segs: int = 8,
                    cap: str = "round", join: str = "round",
                    mitre_limit: float = 1.0) -> Geometry:
    """Full ST_Buffer for any geometry, positive or negative distance.
    Line end-cap styles: 'round' (default), 'flat', 'square'; join styles
    'round' (default), 'mitre', 'bevel' with GEOS limited-mitre clipping at
    ``mitre_limit`` (the reference's CAP_*/JOIN_* styles and mitre_limit,
    geos/.../st_buffer.cpp:74-79,104). Returns a region
    (POLYGON/MULTIPOLYGON of disjoint convex pieces) — area-exact vs the
    closed-form n-gon formulas (see tests)."""
    from .core import LINESTRING, MULTILINESTRING, MULTIPOINT, POINT

    if g.is_empty():
        return Geometry.empty(POLYGON)
    if dist == 0:
        return g
    rect = _rect_of(g)
    if rect is not None:
        pieces = _buffer_rect(*rect, dist, quad_segs, join, mitre_limit)
        if not pieces:
            return Geometry.empty(POLYGON)
        return _pieces_to_geometry(pieces)

    acc: List[np.ndarray] = []
    if dist > 0:
        for leaf in g.flatten():
            if leaf.type_id == POINT and not leaf.is_empty():
                px, py = float(leaf.coords[0]), float(leaf.coords[1])
                if cap == "flat":
                    continue  # GEOS: flat-cap point buffer is empty
                if cap == "square":
                    _accumulate_union(acc, [np.array([
                        [px - dist, py - dist], [px + dist, py - dist],
                        [px + dist, py + dist], [px - dist, py + dist],
                    ])])
                else:
                    _accumulate_union(acc, [
                        _circle_piece(px, py, dist, quad_segs)
                    ])
            elif leaf.type_id == LINESTRING and len(leaf.coords) > 0:
                r = np.asarray(leaf.coords, dtype=np.float64)[:, :2]
                for piece in _line_buffer_pieces(r, dist, quad_segs, cap,
                                                 join, mitre_limit):
                    _accumulate_union(acc, [piece])
            elif leaf.type_id == POLYGON and leaf.rings:
                _accumulate_union(acc, region_pieces(leaf))
                _accumulate_union(acc, _boundary_capsules(
                    leaf, dist, quad_segs, join, mitre_limit))
    else:
        # erosion: only 2-dimensional parts survive a negative buffer
        pieces = region_pieces(g)
        if not pieces:
            return Geometry.empty(POLYGON)
        acc = _subtract_region(pieces, _boundary_capsules(
            g, -dist, quad_segs, join, mitre_limit))

    if not acc:
        return Geometry.empty(POLYGON)
    return _pieces_to_geometry(acc)
