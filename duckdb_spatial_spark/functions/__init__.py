"""ST_* function surface.

DataFrame API: ``from duckdb_spatial_spark.functions import st_area, ...``
SQL API: ``register_sql_functions(spark)`` registers the UDF-backed names so
``spark.sql("SELECT ST_Area(geom) ...")`` resolves — the Spark analog of the
reference's catalog registration (core/module.cpp:18-35).

Column-expression fast paths (st_distance_sphere, st_hilbert_xy, bbox
predicates) are the blessed 100-TB path in the DataFrame API; their SQL
registrations fall back to the UDF tier where a pure-Column registration
isn't possible from PySpark.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .agg import (  # noqa: F401
    st_centroid_agg,
    st_collect_agg,
    st_envelope_agg,
    st_extent_agg,
    st_extent_agg_box,
    st_intersection_agg,
    st_union_agg,
)
from .scalar import *  # noqa: F401,F403
from . import agg as _agg
from . import scalar as _scalar
from .casts import (  # noqa: F401
    box2d_to_geom,
    geom_to_linestring2d,
    geom_to_point2d,
    geom_to_polygon2d,
    linestring2d_to_geom,
    point2d_to_geom,
    point3d_to_point2d,
    point4d_to_point2d,
    polygon2d_to_geom,
    st_linestring2dfromwkb,
    st_point2dfromwkb,
    st_polygon2dfromwkb,
)


def register_sql_functions(spark: SparkSession) -> None:
    """Register ST_* for spark.sql. Idempotent."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf
    import pandas as pd
    import math

    S = _scalar
    reg = spark.udf.register
    # UDF-backed (names match the reference's catalog, SURVEY §2)
    reg("ST_Point", S._st_point_udf)
    reg("ST_GeomFromText", S._st_geomfromtext_udf)
    reg("ST_AsText", S._st_astext_udf)
    reg("ST_GeomFromGeoJSON", S._st_geomfromgeojson_udf)
    reg("ST_AsGeoJSON", S._st_asgeojson_udf)
    reg("ST_Area", S._st_area_udf)
    reg("ST_Length", S._st_length_udf)
    reg("ST_Perimeter", S._st_perimeter_udf)
    reg("ST_Centroid", S._st_centroid_udf)
    reg("ST_Distance", S._st_distance_geom_udf)
    reg("ST_Extent", S._st_extent_udf)
    reg("ST_X", S._st_x_udf)
    reg("ST_Y", S._st_y_udf)
    reg("ST_Z", S._st_z_udf)
    reg("ST_M", S._st_m_udf)
    reg("ST_NPoints", S._st_npoints_udf)
    reg("ST_NGeometries", S._st_ngeometries_udf)
    reg("ST_NInteriorRings", S._st_ninteriorrings_udf)
    # alias spellings — the reference registers both (docs/functions.md)
    reg("ST_NumPoints", S._st_npoints_udf)
    reg("ST_NumGeometries", S._st_ngeometries_udf)
    reg("ST_NumInteriorRings", S._st_ninteriorrings_udf)
    reg("ST_GeometryType", S._st_geometrytype_udf)
    reg("ST_Dimension", S._st_dimension_udf)
    reg("ST_IsEmpty", S._st_isempty_udf)
    reg("ST_IsClosed", S._st_isclosed_udf)
    reg("ST_HasZ", S._st_haz_udf)
    reg("ST_HasM", S._st_ham_udf)
    reg("ST_ZMFlag", S._st_zmflag_udf)
    reg("ST_ExteriorRing", S._st_exteriorring_udf)
    @pandas_udf(T.BinaryType())
    def _startpoint1(g: pd.Series) -> pd.Series:
        from ..geom.wkb import from_wkb

        return pd.Series(
            [None if b is None else S._pointn_k(from_wkb(b), 1) for b in g],
            dtype=object,
        )

    @pandas_udf(T.BinaryType())
    def _endpoint1(g: pd.Series) -> pd.Series:
        from ..geom.wkb import from_wkb

        return pd.Series(
            [None if b is None else S._pointn_k(from_wkb(b), -1) for b in g],
            dtype=object,
        )

    reg("ST_StartPoint", _startpoint1)
    reg("ST_EndPoint", _endpoint1)

    @pandas_udf(T.BinaryType())
    def _buffer3(g: pd.Series, dist: pd.Series, segs: pd.Series) -> pd.Series:
        from ..geom import kernels as _K
        from ..geom.wkb import from_wkb, to_wkb

        out = []
        for b, d, n in zip(g, dist, segs):
            if b is None or d is None:
                out.append(None)
            else:
                out.append(to_wkb(_K.buffer(from_wkb(b), float(d),
                                            segments=8 if n is None else int(n))))
        return pd.Series(out, dtype=object)

    reg("ST_Buffer", _buffer3)

    @pandas_udf(T.BinaryType())
    def _buffer6(g: pd.Series, dist: pd.Series, segs: pd.Series,
                 join_style: pd.Series, cap_style: pd.Series,
                 mitre_limit: pd.Series) -> pd.Series:
        # the reference's full overload: (geom, distance, num_triangles,
        # join_style, cap_style, mitre_limit) — st_buffer.cpp:134
        from ..geom import kernels as _K
        from ..geom.wkb import from_wkb, to_wkb

        out = []
        for b, d, n, js, cs, ml in zip(g, dist, segs, join_style, cap_style,
                                       mitre_limit):
            if b is None or d is None:
                out.append(None)
                continue
            cap = ("round" if cs is None else str(cs)).lower().replace("cap_", "")
            join = ("round" if js is None else str(js)).lower()
            join = join.replace("join_", "").replace("miter", "mitre")
            out.append(to_wkb(_K.buffer(
                from_wkb(b), float(d), 8 if n is None else int(n), cap, join,
                1.0 if ml is None else float(ml))))
        return pd.Series(out, dtype=object)

    reg("ST_Buffer_Style", _buffer6)

    @pandas_udf(T.BinaryType())
    def _reduceprecision2(g: pd.Series, grid: pd.Series) -> pd.Series:
        from ..geom import kernels as _K
        from ..geom.wkb import from_wkb, to_wkb

        out = []
        for b, gr in zip(g, grid):
            if b is None or gr is None:
                out.append(None)
            else:
                out.append(to_wkb(_K.reduce_precision(from_wkb(b), float(gr))))
        return pd.Series(out, dtype=object)

    reg("ST_ReducePrecision", _reduceprecision2)

    @pandas_udf(T.BinaryType())
    def _linemerge2(g: pd.Series, directed: pd.Series) -> pd.Series:
        from ..geom import kernels as _K
        from ..geom.wkb import from_wkb, to_wkb

        out = []
        for b, d in zip(g, directed):
            if b is None:
                out.append(None)
            else:
                out.append(to_wkb(_K.line_merge(from_wkb(b), directed=bool(d))))
        return pd.Series(out, dtype=object)

    reg("ST_LineMerge2", _linemerge2)
    reg("ST_MakePolygon2", S._st_makepolygon_holes_udf)
    reg("ST_Points", S._st_points_udf)
    reg("ST_Dump", S._st_dump_udf)
    reg("ST_PointN", S._st_pointn_udf)
    reg("ST_Intersects", S._st_intersects_udf)
    reg("ST_Disjoint", S._st_disjoint_udf)
    reg("ST_Contains", S._st_contains_udf)
    reg("ST_ContainsProperly", S._st_containsproperly_udf)
    reg("ST_Within", S._st_within_udf)
    reg("ST_Covers", S._st_covers_udf)
    reg("ST_CoveredBy", S._st_coveredby_udf)
    reg("ST_Crosses", S._st_crosses_udf)
    reg("ST_Touches", S._st_touches_udf)
    reg("ST_Overlaps", S._st_overlaps_udf)
    reg("ST_Equals", S._st_equals_udf)
    reg("ST_DWithin", S._st_dwithin_udf)
    reg("ST_IsValid", S._st_isvalid_udf)
    reg("ST_IsSimple", S._st_issimple_udf)
    reg("ST_IsRing", S._st_isring_udf)
    reg("ST_ConvexHull", S._st_convexhull_udf)
    reg("ST_Boundary", S._st_boundary_udf)
    reg("ST_Envelope", S._st_envelope_udf)
    reg("ST_PointOnSurface", S._st_pointonsurface_udf)
    reg("ST_MakeValid", S._st_makevalid_udf)
    reg("ST_Normalize", S._st_normalize_udf)
    reg("ST_Reverse", S._st_reverse_udf)
    reg("ST_FlipCoordinates", S._st_flipcoordinates_udf)
    reg("ST_LineMerge", S._st_linemerge_udf)
    reg("ST_Force2D", S._st_force2d_udf)
    reg("ST_ShortestLine", S._st_shortestline_udf)
    reg("ST_Intersection", S._st_intersection_udf)
    reg("ST_Union", S._st_union_udf)
    reg("ST_Difference", S._st_difference_udf)
    reg("ST_MakeLine", S._st_makeline_list_udf)
    reg("ST_MakePolygon", S._st_makepolygon_udf)
    reg("ST_Collect", S._st_collect_udf)
    reg("ST_Multi", S._st_multi_udf)
    reg("ST_Distance_Spheroid", S._st_distance_spheroid_udf)
    reg("ST_ZMin", S._st_zmin_udf)
    reg("ST_ZMax", S._st_zmax_udf)
    reg("ST_MMin", S._st_mmin_udf)
    reg("ST_MMax", S._st_mmax_udf)
    @pandas_udf(T.StringType())
    def _assvg3(g: pd.Series, rel: pd.Series, digits: pd.Series) -> pd.Series:
        from ..geom.wkb import from_wkb

        out = []
        for b, r, d in zip(g, rel, digits):
            if b is None:
                out.append(None)
            else:
                out.append(S._assvg_kernel(from_wkb(b), bool(r), int(d)))
        return pd.Series(out, dtype=object)

    reg("ST_AsSVG", _assvg3)

    @pandas_udf(T.StringType())
    def _ashexwkb(g: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else bytes(b).hex().upper() for b in g],
            dtype=object,
        )

    reg("ST_AsHEXWKB", _ashexwkb)

    @pandas_udf(T.BinaryType())
    def _fromhexwkb(s: pd.Series) -> pd.Series:
        # EWKB flag bits (Z/M/SRID) are handled inside the WKB codec
        return pd.Series(
            [None if h is None else bytes.fromhex(h) for h in s], dtype=object
        )

    reg("ST_GeomFromHEXWKB", _fromhexwkb)
    reg("ST_GeomFromHEXEWKB", _fromhexwkb)

    @pandas_udf(T.BinaryType())
    def _wkb_identity(g: pd.Series) -> pd.Series:
        return g

    reg("ST_AsWKB", _wkb_identity)
    reg("ST_GeomFromWKB", _wkb_identity)

    # SQL variants of the col-expr fast paths (UDF fallback for spark.sql)
    @pandas_udf(T.DoubleType())
    def _sphere_xy(x1: pd.Series, y1: pd.Series, x2: pd.Series, y2: pd.Series) -> pd.Series:
        from ..geom.kernels import haversine

        out = []
        for a, b, c, d in zip(x1, y1, x2, y2):
            out.append(None if any(v is None for v in (a, b, c, d)) else haversine(a, b, c, d))
        return pd.Series(out)

    # extension name: raw-coordinate haversine (no geometry construction)
    reg("ST_Haversine_XY", _sphere_xy)

    @pandas_udf(T.DoubleType())
    def _sphere_geom(a: pd.Series, b: pd.Series) -> pd.Series:
        # reference signature: (GEOMETRY point, GEOMETRY point) — the
        # coordinates are treated as lon/lat (st_distance_sphere.cpp:100-103)
        from ..geom.kernels import haversine
        from ..geom.wkb import from_wkb

        out = []
        for ga, gb in zip(a, b):
            if ga is None or gb is None:
                out.append(None)
                continue
            p, q = from_wkb(ga), from_wkb(gb)
            if p.type_id != 1 or q.type_id != 1 or p.is_empty() or q.is_empty():
                out.append(None)
                continue
            out.append(haversine(float(p.coords[0]), float(p.coords[1]),
                                 float(q.coords[0]), float(q.coords[1])))
        return pd.Series(out)

    reg("ST_Distance_Sphere", _sphere_geom)
    reg("ST_Haversine", _sphere_geom)

    @pandas_udf(T.BinaryType())
    def _collectionextract2(g: pd.Series, dim: pd.Series) -> pd.Series:
        from ..geom import kernels as _K
        from ..geom.wkb import from_wkb, to_wkb

        out = []
        for b, d in zip(g, dim):
            if b is None:
                out.append(None)
            else:
                out.append(to_wkb(_K.collection_extract(
                    from_wkb(b), None if d is None or int(d) == 0 else int(d))))
        return pd.Series(out, dtype=object)

    # SQL calling convention: dim 0/NULL = highest dimension present (the
    # reference's 1-arg overload; Spark SQL UDFs cannot overload by arity)
    reg("ST_CollectionExtract", _collectionextract2)

    reg("ST_MakeEnvelope", S._st_makeenvelope_udf)

    @pandas_udf(T.LongType())
    def _hilbert(x: pd.Series, y: pd.Series) -> pd.Series:
        import numpy as np

        from .scalar import hilbert_xy_py

        out = []
        for a, b in zip(x, y):
            if a is None or b is None:
                out.append(None)
            else:
                out.append(hilbert_xy_py(16, int(a), int(b)))
        return pd.Series(out)

    reg("ST_HilbertInt", _hilbert)

    # ---- remaining reference SQL surface (parity audit vs the reference's
    # registration lists: st_xyzm.cpp bounds accessors, simplify tier,
    # proj/functions.cpp, geographiclib tier, st_point.cpp struct
    # constructors, aggregate fns)
    from_wkb, to_wkb = S.from_wkb, S.to_wkb

    def _bounds_sql(idx):
        @pandas_udf(T.DoubleType())
        def f(g: pd.Series) -> pd.Series:
            out = []
            for b in g:
                bd = None if b is None else from_wkb(b).bounds()
                out.append(None if bd is None else float(bd[idx]))
            return pd.Series(out)

        return f

    reg("ST_XMin", _bounds_sql(0))
    reg("ST_YMin", _bounds_sql(1))
    reg("ST_XMax", _bounds_sql(2))
    reg("ST_YMax", _bounds_sql(3))

    @pandas_udf(S.BOX2D_TYPE)
    def _extent_approx(g: pd.Series) -> pd.DataFrame:
        # float32-widened bounds — the reference's BOX_2DF cached-bbox tier
        # (ST_Extent_Approx, st_extent.cpp): min rounds down, max rounds up
        import numpy as np

        rows = []
        for b in g:
            bd = None if b is None else from_wkb(b).bounds()
            if bd is None:
                rows.append((None, None, None, None))
            else:
                rows.append((
                    float(np.nextafter(np.float32(bd[0]), -np.inf)),
                    float(np.nextafter(np.float32(bd[1]), -np.inf)),
                    float(np.nextafter(np.float32(bd[2]), np.inf)),
                    float(np.nextafter(np.float32(bd[3]), np.inf)),
                ))
        return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])

    reg("ST_Extent_Approx", _extent_approx)

    def _geom_tol(kernel):
        @pandas_udf(T.BinaryType())
        def f(g: pd.Series, tol: pd.Series) -> pd.Series:
            out = []
            for b, t in zip(g, tol):
                if b is None or t is None:
                    out.append(None)
                else:
                    r = kernel(from_wkb(b), float(t))
                    out.append(None if r is None else to_wkb(r))
            return pd.Series(out, dtype=object)

        return f

    from ..geom import kernels as _K

    reg("ST_Simplify", _geom_tol(_K.simplify))
    reg("ST_SimplifyPreserveTopology", _geom_tol(_K.simplify_preserve_topology))
    reg("ST_RemoveRepeatedPoints", _geom_tol(_K.remove_repeated_points))

    @pandas_udf(T.BinaryType())
    def _force3dz(g: pd.Series, z: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else to_wkb(_K.force_dims(from_wkb(b), True, False, z=float(v or 0.0)))
             for b, v in zip(g, z)], dtype=object)

    @pandas_udf(T.BinaryType())
    def _force3dm(g: pd.Series, m: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else to_wkb(_K.force_dims(from_wkb(b), False, True, m=float(v or 0.0)))
             for b, v in zip(g, m)], dtype=object)

    @pandas_udf(T.BinaryType())
    def _force4d(g: pd.Series, z: pd.Series, m: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else to_wkb(_K.force_dims(
                from_wkb(b), True, True, z=float(v or 0.0), m=float(w or 0.0)))
             for b, v, w in zip(g, z, m)], dtype=object)

    reg("ST_Force3DZ", _force3dz)
    reg("ST_Force3DM", _force3dm)
    reg("ST_Force4D", _force4d)

    @pandas_udf(T.StringType())
    def _quadkey_geom(g: pd.Series, level: pd.Series) -> pd.Series:
        # geometry (point) overload, st_quadkey.cpp:62-99
        out = []
        for b, lv in zip(g, level):
            if b is None or lv is None:
                out.append(None)
                continue
            p = from_wkb(b)
            if p.type_id != 1 or p.is_empty():
                out.append(None)
                continue
            out.append(_quadkey_py(float(p.coords[0]), float(p.coords[1]), int(lv)))
        return pd.Series(out, dtype=object)

    reg("ST_QuadKey", _quadkey_geom)

    @pandas_udf(T.LongType())
    def _hilbert_geom_box(g: pd.Series, box: pd.DataFrame) -> pd.Series:
        # (GEOMETRY, BOX_2D) overload: index of the bbox center within the
        # given bounds (st_hilbert.cpp:126-149), order 16
        hi = (1 << 16) - 1
        out = []
        for b, (bx0, by0, bx1, by1) in zip(
            g, zip(box["xmin"], box["ymin"], box["xmax"], box["ymax"])
        ):
            if b is None or bx0 is None:
                out.append(None)
                continue
            bd = from_wkb(b).bounds()
            if bd is None or bx1 == bx0 or by1 == by0:
                out.append(None)
                continue
            cx = bd[0] + (bd[2] - bd[0]) / 2
            cy = bd[1] + (bd[3] - bd[1]) / 2
            xi = min(max(int((cx - bx0) / (bx1 - bx0) * hi), 0), hi)
            yi = min(max(int((cy - by0) / (by1 - by0) * hi), 0), hi)
            out.append(S.hilbert_xy_py(16, xi, yi))
        return pd.Series(out)

    reg("ST_Hilbert", _hilbert_geom_box)

    def _make_transform_udf(always_xy: bool):
        @pandas_udf(T.BinaryType())
        def _transform3(g: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
            # per-batch transformer cache keyed on (src, dst) — the Spark
            # analog of the reference's per-local-state PROJ cache
            from ..geom.proj import native_transform

            cache: dict = {}
            out = []
            for b, s_, d_ in zip(g, src, dst):
                if b is None or s_ is None or d_ is None:
                    out.append(None)
                    continue
                key = (str(s_).upper(), str(d_).upper())
                if key[0] == key[1]:
                    out.append(b)
                    continue
                fn = cache.get(key)
                if fn is None:
                    fn = ((S._NATIVE_TRANSFORMS.get(key) if always_xy else None)
                          or native_transform(*key, always_xy=always_xy))
                    if fn is None:
                        raise NotImplementedError(
                            f"ST_Transform {key[0]}->{key[1]}: outside the native CRS registry"
                        )
                    cache[key] = fn
                out.append(to_wkb(from_wkb(b).map_coords(fn)))
            return pd.Series(out, dtype=object)

        return _transform3

    # SQL default matches the reference: authority-compliant axis order
    # (EPSG:4326 input is lat,lon — test/sql/proj.test); ST_Transform_XY
    # is the explicit x,y-order form (the reference's always_xy := true)
    reg("ST_Transform", _make_transform_udf(always_xy=False))
    reg("ST_Transform_XY", _make_transform_udf(always_xy=True))

    reg("ST_Length_Spheroid", S._st_length_spheroid_udf)
    reg("ST_Area_Spheroid", S._st_area_spheroid_udf)

    reg("ST_Perimeter_Spheroid", S._st_perimeter_spheroid_udf)

    @pandas_udf(T.BooleanType())
    def _dwithin_spheroid(a: pd.Series, b: pd.Series, dist: pd.Series) -> pd.Series:
        # reference signature (POINT_2D, POINT_2D, DOUBLE) — here on
        # GEOMETRY points (geographiclib/.../st_dwithin_spheroid)
        out = []
        for ga, gb, dd in zip(a, b, dist):
            if ga is None or gb is None or dd is None:
                out.append(None)
                continue
            p, q = from_wkb(ga), from_wkb(gb)
            if p.type_id != 1 or q.type_id != 1 or p.is_empty() or q.is_empty():
                out.append(None)
                continue
            m = S._geodesic_inverse_m(
                float(p.coords[0]), float(p.coords[1]),
                float(q.coords[0]), float(q.coords[1]))
            out.append(bool(m <= float(dd)))
        return pd.Series(out)

    reg("ST_DWithin_Spheroid", _dwithin_spheroid)

    @pandas_udf(T.BooleanType())
    def _intersects_extent(a: pd.Series, b: pd.Series) -> pd.Series:
        # `&&` on GEOMETRY args (core/.../st_intersects_extent.cpp)
        out = []
        for ga, gb in zip(a, b):
            if ga is None or gb is None:
                out.append(None)
                continue
            out.append(bool(_K.bbox_intersects(from_wkb(ga), from_wkb(gb))))
        return pd.Series(out)

    reg("ST_Intersects_Extent", _intersects_extent)

    _P2D = T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())])
    _P3D = T.StructType(_P2D.fields + [T.StructField("z", T.DoubleType())])
    _P4D = T.StructType(_P3D.fields + [T.StructField("m", T.DoubleType())])

    @pandas_udf(_P2D)
    def _point2d(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({"x": x, "y": y})

    @pandas_udf(_P3D)
    def _point3d(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({"x": x, "y": y, "z": z})

    @pandas_udf(_P4D)
    def _point4d(x: pd.Series, y: pd.Series, z: pd.Series, m: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({"x": x, "y": y, "z": z, "m": m})

    reg("ST_Point2D", _point2d)
    reg("ST_Point3D", _point3d)
    reg("ST_Point4D", _point4d)

    @pandas_udf(_P2D)
    def _point2dfromwkb(g: pd.Series) -> pd.DataFrame:
        rows = []
        for b in g:
            p = None if b is None else from_wkb(b)
            rows.append((float(p.coords[0]), float(p.coords[1]))
                        if p is not None and p.type_id == 1 and not p.is_empty()
                        else (None, None))
        return pd.DataFrame(rows, columns=["x", "y"])

    reg("ST_Point2DFromWKB", _point2dfromwkb)

    # grouped-aggregate registrations (usable in SQL GROUP BY)
    reg("ST_Collect_Agg", _agg._st_collect_agg_udf)
    ext_agg = _scalar_agg_extent()
    reg("ST_Extent_Agg", ext_agg)
    reg("ST_Envelope_Agg", ext_agg)
    reg("ST_Union_Agg", _scalar_agg_overlay(_K.union))
    reg("ST_Intersection_Agg", _scalar_agg_overlay(_K.intersection))

    register_sql_table_functions(spark)


def register_sql_table_functions(spark: SparkSession) -> None:
    """SQL table functions via Python UDTFs (Spark 4) — closes the gap with
    the reference's table-function catalog for the SQL surface:
    ``SELECT * FROM ST_GeneratePoints(0,0,10,10, 100, 42)``,
    ``SELECT * FROM ST_Drivers()``, ``SELECT * FROM ST_List_Proj_CRS()``.
    The UDTF forms are single-task convenience; the Python-API forms
    (sources.st_generatepoints etc.) remain the distributed scale path."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="id bigint, x double, y double")
    class _GeneratePoints:
        def eval(self, xmin, ymin, xmax, ymax, count, seed=0):
            # SQL literals may arrive as Decimal — normalize
            xmin, ymin = float(xmin), float(ymin)
            xmax, ymax = float(xmax), float(ymax)
            # same xxhash-free driver-side mirror of sources/generate.py's
            # hash-derived uniforms (python fallback: splitmix64)
            def mix(v: int) -> float:
                v = (v + 0x9E3779B97F4A7C15) & (1 << 64) - 1
                v = ((v ^ (v >> 30)) * 0xBF58476D1CE4E5B9) & (1 << 64) - 1
                v = ((v ^ (v >> 27)) * 0x94D049BB133111EB) & (1 << 64) - 1
                v ^= v >> 31
                return (v >> 11) / float(1 << 53)

            for i in range(int(count)):
                u1 = mix(i * 2 + int(seed) * 1_000_003 + 1)
                u2 = mix(i * 2 + int(seed) * 1_000_003 + 2)
                yield i, xmin + u1 * (xmax - xmin), ymin + u2 * (ymax - ymin)

    from ..sources.read import DRIVERS_DDL

    @udtf(returnType=DRIVERS_DDL)
    class _Drivers:
        def eval(self):
            from ..sources.read import driver_rows

            yield from driver_rows()

    @udtf(returnType="auth_name string, code int, name string, kind string, projection string")
    class _ListProjCrs:
        def eval(self):
            from ..geom.proj import list_native_crs

            for r in list_native_crs():
                yield r

    # ST_Read / ST_ReadOSM as SQL table functions: polymorphic UDTF whose
    # analyze() derives the output schema from the file (the reference's
    # bind phase, st_read.cpp:105-240 made SQL-callable). eval() runs on an
    # executor with no SparkSession, so both sides plan the native
    # reader's session-free Scan (sources.read.local_read_schema /
    # local_read_rows) and eval() runs it in one task — st_read() runs the
    # same Scan distributed.
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class _ReadUDTF:
        @staticmethod
        def analyze(path: AnalyzeArgument, layer: AnalyzeArgument = None):
            from ..sources.read import local_read_schema

            return AnalyzeResult(schema=local_read_schema(
                path.value, None if layer is None else layer.value))

        def eval(self, path, layer=None):
            from ..sources.read import local_read_rows

            yield from local_read_rows(path, layer)

    class _ReadOSMUDTF:
        @staticmethod
        def analyze(path: AnalyzeArgument):
            from ..sources.read import OSM_SCHEMA

            return AnalyzeResult(schema=OSM_SCHEMA)

        def eval(self, path):
            from ..sources.filescan import rows
            from ..sources.read import osm_scan

            yield from rows(osm_scan(path))

    spark.udtf.register("ST_GeneratePoints", _GeneratePoints)
    spark.udtf.register("ST_Drivers", _Drivers)
    spark.udtf.register("ST_List_Proj_CRS", _ListProjCrs)
    spark.udtf.register("ST_Read", udtf(_ReadUDTF))
    spark.udtf.register("ST_ReadOSM", udtf(_ReadOSMUDTF))


def _quadkey_py(lon: float, lat: float, level: int) -> str:
    """Row-wise mirror of st_quadkey_xy's col-expr (st_quadkey.cpp:19-99)."""
    import math

    lon = max(-180.0, min(180.0, lon))
    lat = max(-85.05112878, min(85.05112878, lat))
    sin_lat = math.sin(math.radians(lat))
    xf = (lon + 180.0) / 360.0
    yf = 0.5 - math.log((1.0 + sin_lat) / (1.0 - sin_lat)) / (4.0 * math.pi)
    n = 1 << level
    tx = max(0, min(int(math.floor(xf * n)), n - 1))
    ty = max(0, min(int(math.floor(yf * n)), n - 1))
    digits = []
    for i in range(level, 0, -1):
        mask = 1 << (i - 1)
        if tx & mask and ty & mask:
            digits.append("3")
        elif ty & mask:
            digits.append("2")
        elif tx & mask:
            digits.append("1")
        else:
            digits.append("0")
    return "".join(digits)


def _scalar_agg_extent():
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..geom.core import Geometry
    from .scalar import from_wkb, to_wkb

    @pandas_udf(T.BinaryType())
    def f(s: pd.Series) -> bytes:
        # bbox union → envelope polygon (st_extent_agg.cpp:26-95); the
        # partial/final decomposition is Spark's own partial aggregation
        bounds = [from_wkb(b).bounds() for b in s if b is not None]
        bounds = [b for b in bounds if b is not None]
        if not bounds:
            return None
        xmin = min(b[0] for b in bounds)
        ymin = min(b[1] for b in bounds)
        xmax = max(b[2] for b in bounds)
        ymax = max(b[3] for b in bounds)
        return to_wkb(Geometry.box_polygon(xmin, ymin, xmax, ymax))

    return f


def _scalar_agg_overlay(op):
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from .scalar import from_wkb, to_wkb

    @pandas_udf(T.BinaryType())
    def f(s: pd.Series) -> bytes:
        acc = None
        for b in s:
            if b is None:
                continue
            g = from_wkb(b)
            acc = g if acc is None else op(acc, g)
        return None if acc is None else to_wkb(acc)

    return f
