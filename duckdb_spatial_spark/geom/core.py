"""Geometry object model — the engine-internal representation.

Plays the role of the reference's tagged-union ``Geometry`` class
(``spatial/src/spatial/core/geometry/geometry.hpp:143-157``) but lives only
inside Arrow-batched Python UDFs; the on-wire / in-DataFrame encoding is ISO
WKB in a ``BinaryType`` column (SURVEY §1.2: WKB is our *native* GEOMETRY).

Seven subtypes with optional Z and/or M, EMPTY variants first-class
(reference ``geometry_type.hpp:11-19``, ``geometry_serialization.cpp:20-21``).

No third-party geometry dependency: shapely is not available in this
environment, so kernels (see ``kernels.py``) are NumPy implementations.
"""

from __future__ import annotations

import math
from typing import Iterator, List, Optional, Sequence, Tuple

import numpy as np

# Geometry type ids — ISO WKB base codes (also the reference's enum order,
# geometry_type.hpp:11-19).
POINT = 1
LINESTRING = 2
POLYGON = 3
MULTIPOINT = 4
MULTILINESTRING = 5
MULTIPOLYGON = 6
GEOMETRYCOLLECTION = 7

TYPE_NAMES = {
    POINT: "POINT",
    LINESTRING: "LINESTRING",
    POLYGON: "POLYGON",
    MULTIPOINT: "MULTIPOINT",
    MULTILINESTRING: "MULTILINESTRING",
    MULTIPOLYGON: "MULTIPOLYGON",
    GEOMETRYCOLLECTION: "GEOMETRYCOLLECTION",
}
NAME_TYPES = {v: k for k, v in TYPE_NAMES.items()}

_MULTI_OF = {POINT: MULTIPOINT, LINESTRING: MULTILINESTRING, POLYGON: MULTIPOLYGON}


class Geometry:
    """A parsed geometry.

    Storage by kind:
      POINT               coords: (dim,) float64 array, or None if EMPTY
      LINESTRING          coords: (n, dim) float64 array (n==0 → EMPTY)
      POLYGON             rings:  list[(n, dim) arrays]  ([] → EMPTY)
      MULTI*/COLLECTION   parts:  list[Geometry]         ([] → EMPTY)
    """

    __slots__ = ("type_id", "coords", "rings", "parts", "has_z", "has_m", "srid")

    def __init__(
        self,
        type_id: int,
        coords: Optional[np.ndarray] = None,
        rings: Optional[List[np.ndarray]] = None,
        parts: Optional[List["Geometry"]] = None,
        has_z: bool = False,
        has_m: bool = False,
        srid: int = 0,
    ):
        self.type_id = type_id
        self.coords = coords
        self.rings = rings
        self.parts = parts
        self.has_z = has_z
        self.has_m = has_m
        self.srid = srid

    # ---- construction helpers -------------------------------------------

    @staticmethod
    def point(x: float, y: float, z: float = None, m: float = None) -> "Geometry":
        vals = [x, y]
        if z is not None:
            vals.append(z)
        if m is not None:
            vals.append(m)
        return Geometry(
            POINT,
            coords=np.asarray(vals, dtype=np.float64),
            has_z=z is not None,
            has_m=m is not None,
        )

    @staticmethod
    def empty(type_id: int, has_z: bool = False, has_m: bool = False) -> "Geometry":
        if type_id == POINT:
            return Geometry(POINT, coords=None, has_z=has_z, has_m=has_m)
        if type_id == LINESTRING:
            dim = 2 + has_z + has_m
            return Geometry(
                LINESTRING,
                coords=np.empty((0, dim), dtype=np.float64),
                has_z=has_z,
                has_m=has_m,
            )
        if type_id == POLYGON:
            return Geometry(POLYGON, rings=[], has_z=has_z, has_m=has_m)
        return Geometry(type_id, parts=[], has_z=has_z, has_m=has_m)

    @staticmethod
    def linestring(coords, has_z: bool = False, has_m: bool = False) -> "Geometry":
        arr = np.asarray(coords, dtype=np.float64)
        if arr.ndim == 1:
            arr = arr.reshape(0, 2 + has_z + has_m)
        return Geometry(LINESTRING, coords=arr, has_z=has_z, has_m=has_m)

    @staticmethod
    def polygon(rings, has_z: bool = False, has_m: bool = False) -> "Geometry":
        rr = [np.asarray(r, dtype=np.float64) for r in rings]
        return Geometry(POLYGON, rings=rr, has_z=has_z, has_m=has_m)

    @staticmethod
    def collection(type_id: int, parts: Sequence["Geometry"]) -> "Geometry":
        parts = list(parts)
        has_z = any(p.has_z for p in parts)
        has_m = any(p.has_m for p in parts)
        return Geometry(type_id, parts=parts, has_z=has_z, has_m=has_m)

    @staticmethod
    def box_polygon(xmin: float, ymin: float, xmax: float, ymax: float) -> "Geometry":
        # vertex order matches the reference's Polygon::CreateFromBox
        # (geometry.hpp:795-805): min corner, up, across, down, close
        ring = np.array(
            [[xmin, ymin], [xmin, ymax], [xmax, ymax], [xmax, ymin], [xmin, ymin]],
            dtype=np.float64,
        )
        return Geometry(POLYGON, rings=[ring])

    # ---- basic properties ------------------------------------------------

    @property
    def dim(self) -> int:
        return 2 + int(self.has_z) + int(self.has_m)

    @property
    def type_name(self) -> str:
        return TYPE_NAMES[self.type_id]

    def is_empty(self) -> bool:
        if self.type_id == POINT:
            return self.coords is None
        if self.type_id == LINESTRING:
            return len(self.coords) == 0
        if self.type_id == POLYGON:
            return len(self.rings) == 0
        return all(p.is_empty() for p in self.parts) if self.parts is not None else True

    def topo_dimension(self) -> int:
        """0/1/2 — max over collection parts (reference st_dimension.cpp)."""
        if self.type_id in (POINT, MULTIPOINT):
            return 0
        if self.type_id in (LINESTRING, MULTILINESTRING):
            return 1
        if self.type_id in (POLYGON, MULTIPOLYGON):
            return 2
        if not self.parts:
            return 0
        return max(p.topo_dimension() for p in self.parts)

    # ---- traversal --------------------------------------------------------

    def vertex_arrays(self) -> Iterator[np.ndarray]:
        """Yield every coordinate array (points as (1,dim))."""
        if self.type_id == POINT:
            if self.coords is not None:
                yield self.coords.reshape(1, -1)
        elif self.type_id == LINESTRING:
            if len(self.coords):
                yield self.coords
        elif self.type_id == POLYGON:
            for r in self.rings:
                yield r
        else:
            for p in self.parts or []:
                yield from p.vertex_arrays()

    def num_points(self) -> int:
        return sum(len(a) for a in self.vertex_arrays())

    def num_geometries(self) -> int:
        if self.parts is not None:
            return len(self.parts)
        return 0 if self.is_empty() else 1

    def flatten(self) -> Iterator["Geometry"]:
        """Yield leaf (non-collection) geometries."""
        if self.parts is not None:
            for p in self.parts:
                yield from p.flatten()
        else:
            yield self

    def bounds(self) -> Optional[Tuple[float, float, float, float]]:
        """(xmin, ymin, xmax, ymax) or None if EMPTY.

        The reference caches this in the serialized header
        (geometry_type.hpp:100-146); we materialize it as a sibling struct
        column at the DataFrame layer instead.
        """
        xmin = ymin = math.inf
        xmax = ymax = -math.inf
        found = False
        for arr in self.vertex_arrays():
            if len(arr) == 0:
                continue
            found = True
            xmin = min(xmin, float(arr[:, 0].min()))
            xmax = max(xmax, float(arr[:, 0].max()))
            ymin = min(ymin, float(arr[:, 1].min()))
            ymax = max(ymax, float(arr[:, 1].max()))
        return (xmin, ymin, xmax, ymax) if found else None

    # ---- transforms --------------------------------------------------------

    def map_coords(self, fn) -> "Geometry":
        """Apply fn((n,dim) array) -> (n,dim2) array to every vertex array."""
        if self.type_id == POINT:
            if self.coords is None:
                return Geometry(POINT, None, has_z=self.has_z, has_m=self.has_m)
            out = fn(self.coords.reshape(1, -1))[0]
            g = Geometry(POINT, coords=out)
            g.has_z, g.has_m = self.has_z, self.has_m
            return g
        if self.type_id == LINESTRING:
            out = fn(self.coords) if len(self.coords) else self.coords
            g = Geometry(LINESTRING, coords=out)
            g.has_z, g.has_m = self.has_z, self.has_m
            return g
        if self.type_id == POLYGON:
            g = Geometry(POLYGON, rings=[fn(r) for r in self.rings])
            g.has_z, g.has_m = self.has_z, self.has_m
            return g
        g = Geometry(self.type_id, parts=[p.map_coords(fn) for p in self.parts or []])
        g.has_z, g.has_m = self.has_z, self.has_m
        return g

    def __repr__(self):  # pragma: no cover
        from .wkt import to_wkt

        return f"<Geometry {to_wkt(self)}>"

    def __eq__(self, other):
        if not isinstance(other, Geometry):
            return NotImplemented
        from .wkb import to_wkb

        return to_wkb(self) == to_wkb(other)

    def __hash__(self):
        from .wkb import to_wkb

        return hash(to_wkb(self))


def promote_dims(g: Geometry, hz: bool, hm: bool) -> Geometry:
    """Rewrite ``g`` to the (hz, hm) vertex layout, zero-filling missing
    ordinates (the reference's ZM promotion in ST_Collect — empty Z members
    still promote the result to ZM with 0-filled Z, st_collect.test)."""
    if g.has_z == hz and g.has_m == hm:
        return g

    def conv(arr):
        a = np.atleast_2d(np.asarray(arr, dtype=np.float64))
        n = len(a)
        cols = [a[:, 0], a[:, 1]]
        if hz:
            cols.append(a[:, 2] if g.has_z else np.zeros(n))
        if hm:
            cols.append(a[:, 2 + int(g.has_z)] if g.has_m else np.zeros(n))
        return np.column_stack(cols)

    if g.parts is not None:
        return Geometry(g.type_id, parts=[promote_dims(p, hz, hm) for p in g.parts],
                        has_z=hz, has_m=hm)
    if g.rings is not None:
        return Geometry(g.type_id, rings=[conv(r) for r in g.rings], has_z=hz, has_m=hm)
    if g.coords is None:
        return Geometry.empty(g.type_id, hz, hm)
    if g.type_id == POINT:
        if g.is_empty():
            return Geometry.empty(POINT, hz, hm)
        return Geometry(POINT, coords=conv(g.coords)[0], has_z=hz, has_m=hm)
    return Geometry(g.type_id, coords=conv(g.coords), has_z=hz, has_m=hm)


def collect(geoms: Sequence[Geometry]) -> Geometry:
    """ST_Collect (reference st_collect.cpp:132-140): NULL and EMPTY members
    are dropped (but their Z/M flags still promote the result layout); if
    the survivors share one base type → MULTI<type>, else
    GEOMETRYCOLLECTION. No survivors → GEOMETRYCOLLECTION EMPTY."""
    present = [g for g in geoms if g is not None]
    geoms = [g for g in present if not g.is_empty()]
    if not geoms:
        return Geometry.empty(GEOMETRYCOLLECTION)
    hz = any(g.has_z for g in present)
    hm = any(g.has_m for g in present)
    geoms = [promote_dims(g, hz, hm) for g in geoms]
    base = {g.type_id for g in geoms}
    if len(base) == 1 and next(iter(base)) in _MULTI_OF:
        return Geometry.collection(_MULTI_OF[next(iter(base))], geoms)
    return Geometry.collection(GEOMETRYCOLLECTION, geoms)
