"""Vectorized pandas-UDF implementations of the ST_ scalar surface.

One pandas UDF per reference function name (public surface enumerated at
/root/reference/docs/reference/sql/ and registration sites
rust/sedona-functions/src/register.rs:39-115, c/sedona-geos/src/register.rs).
All UDFs are Arrow-batched (`pandas_udf`), operate on WKB BinaryType
columns, and dispatch to the numpy kernels in
sedona_db_spark.geometry.kernels.

Hot-path discipline (the "zero per-row Python" rule):
- point batches decode via the vectorized 21-byte view (wkb.wkb_to_points);
- pairwise predicates group rows by the dimension-side geometry bytes and
  run ONE vectorized points-vs-geometry kernel per distinct geometry —
  exactly the shape the spatial join's refine stage produces (many points
  per repeated polygon), mirroring the reference's prepared-geometry reuse
  (rust/sedona-common/src/option.rs:256-283).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType,
)

from sedona_db_spark.geometry import kernels as K
from sedona_db_spark.geometry import wkb as W
from sedona_db_spark import grid


# ---------------------------------------------------------------------------
# decode helpers
# ---------------------------------------------------------------------------

def _decode_series(s: pd.Series) -> list:
    """Decode a WKB series with per-batch memoization on the raw bytes
    (dimension-side geometries repeat across rows in join refinement)."""
    cache: dict[bytes, object] = {}
    out = []
    for v in s:
        if v is None:
            out.append(None)
            continue
        b = bytes(v)
        g = cache.get(b)
        if g is None:
            g = W.decode(b)
            cache[b] = g
        out.append(g)
    return out


def _all_points(s: pd.Series) -> bool:
    return all(v is not None and len(v) == W.POINT_WKB_SIZE and v[0] == 1 for v in s)


def _pairwise_bool(s1: pd.Series, s2: pd.Series, fn, point_left_fn=None) -> pd.Series:
    """Evaluate a binary predicate over row pairs.

    Fast path: when the left side is all 2-D points, group by the right
    geometry's bytes and run one vectorized points-vs-geom kernel per
    distinct right geometry.
    """
    n = len(s1)
    out = np.zeros(n, dtype=bool)
    # NULL input → SQL NULL, not false (reference test_predicates.py rows
    # with None expectations; PostGIS strict-on-null semantics)
    null_mask = np.array([v1 is None or v2 is None
                          for v1, v2 in zip(s1, s2)], dtype=bool)
    if point_left_fn is not None and n and _all_points(s1):
        px, py = W.wkb_to_points(s1)
        groups: dict[bytes, list[int]] = {}
        for i, v in enumerate(s2):
            if v is not None:
                groups.setdefault(bytes(v), []).append(i)
        for b, idx in groups.items():
            g = W.decode(b)
            ii = np.asarray(idx)
            out[ii] = point_left_fn(px[ii], py[ii], g)
    else:
        g1 = _decode_series(s1)
        g2 = _decode_series(s2)
        for i in range(n):
            if g1[i] is not None and g2[i] is not None:
                out[i] = fn(g1[i], g2[i])
    if null_mask.any():
        res = pd.array(out, dtype="boolean")
        res[null_mask] = None
        return pd.Series(res)
    return pd.Series(out)


# ---------------------------------------------------------------------------
# constructors / parsers / formatters
# ---------------------------------------------------------------------------

def _attach_srid(wkb: bytes, srid: int) -> bytes:
    """EWKB-wrap with an SRID, preserving Z/M dims (callers handle NULL
    propagation: a NULL srid yields NULL geometry, reference
    test_st_setsrid_null_srid)."""
    return W.set_srid(bytes(wkb), int(srid))


def _st_point_impl(*cols):
    """ST_Point(x, y[, srid]) — variadic for the SRID overload; a NULL
    srid yields NULL (SQL NULL propagation, reference semantics)."""
    x, y = cols[0], cols[1]
    srid = cols[2] if len(cols) > 2 else None
    wkbs = W.points_to_wkb(x.to_numpy(dtype=np.float64),
                           y.to_numpy(dtype=np.float64))
    res = pd.Series(wkbs)
    res[x.isna() | y.isna()] = None
    if srid is not None:
        out = []
        for v, s in zip(res, srid):
            if v is None or s is None or (isinstance(s, float) and np.isnan(s)):
                out.append(None)
            else:
                out.append(_attach_srid(v, int(float(s))))
        return pd.Series(out)
    return res


st_point = pandas_udf(_st_point_impl, BinaryType())


def _st_geomfromtext_impl(*cols):
    """ST_GeomFromText(wkt[, srid]) — variadic for the SRID overload."""
    t = cols[0]
    srid = cols[1] if len(cols) > 1 else None
    base = t.map(lambda v: None if v is None else W.wkt_to_wkb(v))
    if srid is not None:
        out = []
        for v, s in zip(base, srid):
            if v is None or s is None or (isinstance(s, float) and np.isnan(s)):
                out.append(None)
            else:
                out.append(_attach_srid(v, int(float(s))))
        return pd.Series(out)
    return base


st_geomfromtext = pandas_udf(_st_geomfromtext_impl, BinaryType())


@pandas_udf(BinaryType())
def st_geomfromwkb(b: pd.Series) -> pd.Series:
    # walk + re-emit canonical little-endian ISO WKB (validates structure,
    # preserves Z/M flags and an embedded EWKB SRID)
    return b.map(lambda v: None if v is None else W.to_iso(bytes(v)))


@pandas_udf(StringType())
def st_astext(b: pd.Series) -> pd.Series:
    # dimension tokens (Z/M/ZM) come from the raw header, matching the
    # reference's formatter (test_functions.py:270 "POINT Z (1 2 3)")
    return pd.Series([None if v is None else W.wkb_to_wkt(bytes(v))
                      for v in b])


@pandas_udf(BinaryType())
def st_asbinary(b: pd.Series) -> pd.Series:
    return b


# ---------------------------------------------------------------------------
# accessors
# ---------------------------------------------------------------------------

def _unary_double(fn):
    def inner(b: pd.Series) -> pd.Series:
        return pd.Series([np.nan if g is None else fn(g) for g in _decode_series(b)],
                         dtype=np.float64)
    return inner


@pandas_udf(DoubleType())
def st_x(b: pd.Series) -> pd.Series:
    x, _ = W.wkb_to_points(b)
    # EMPTY/non-point → SQL NULL, not NaN (reference test_functions.py:2748)
    return pd.Series(pd.array(np.where(np.isnan(x), None, x), dtype="Float64"))


@pandas_udf(DoubleType())
def st_y(b: pd.Series) -> pd.Series:
    _, y = W.wkb_to_points(b)
    return pd.Series(pd.array(np.where(np.isnan(y), None, y), dtype="Float64"))


@pandas_udf(DoubleType())
def st_xmin(b: pd.Series) -> pd.Series:
    return pd.Series([K.geom_bbox(g)[0] for g in _decode_series(b)])


@pandas_udf(DoubleType())
def st_ymin(b: pd.Series) -> pd.Series:
    return pd.Series([K.geom_bbox(g)[1] for g in _decode_series(b)])


@pandas_udf(DoubleType())
def st_xmax(b: pd.Series) -> pd.Series:
    return pd.Series([K.geom_bbox(g)[2] for g in _decode_series(b)])


@pandas_udf(DoubleType())
def st_ymax(b: pd.Series) -> pd.Series:
    return pd.Series([K.geom_bbox(g)[3] for g in _decode_series(b)])


@pandas_udf(StringType())
def st_geometrytype(b: pd.Series) -> pd.Series:
    # reference renders ST_GeometryType as e.g. 'ST_Point'
    return pd.Series([None if g is None else "ST_" + g[0] for g in _decode_series(b)])


@pandas_udf(IntegerType())
def st_npoints(b: pd.Series) -> pd.Series:
    return pd.Series([0 if g is None else K.num_points(g) for g in _decode_series(b)],
                     dtype="int32")


@pandas_udf(IntegerType())
def st_numpoints(b: pd.Series) -> pd.Series:
    """PostGIS/reference semantics (test_functions.py:3688-3711): vertex
    count of a LINESTRING only; NULL for every other geometry type."""
    def np_of(g):
        if g is None or g[0] != "LineString":
            return None
        return len(g[1])
    return pd.Series([np_of(g) for g in _decode_series(b)], dtype="Int32")


@pandas_udf(IntegerType())
def st_nrings(b: pd.Series) -> pd.Series:
    """Total ring count across all polygonal parts (recursive through
    collections; reference test_functions.py:3720-3757)."""
    def nr(g):
        if g is None:
            return None
        name, p = g
        if name == "Polygon":
            return len(p)
        if name == "MultiPolygon":
            return sum(len(rings) for rings in p)
        if name == "GeometryCollection":
            return sum(nr(q) or 0 for q in p)
        return 0
    return pd.Series([nr(g) for g in _decode_series(b)], dtype="Int32")


@pandas_udf(IntegerType())
def st_numgeometries(b: pd.Series) -> pd.Series:
    def ng(g):
        if g is None:
            return None
        name, p = g
        if name in ("MultiPolygon", "MultiLineString", "GeometryCollection",
                    "MultiPoint"):
            return len(p)
        # EMPTY single geometries count 0 (reference test_functions.py:2311)
        if name == "Point":
            return 0 if np.any(np.isnan(np.asarray(p, dtype=float))) else 1
        if name == "LineString":
            return 0 if len(p) == 0 else 1
        if name == "Polygon":
            return 0 if not p else 1
        return 1
    return pd.Series([ng(g) for g in _decode_series(b)], dtype="Int32")


@pandas_udf(BooleanType())
def st_isempty(b: pd.Series) -> pd.Series:
    def empty(g):
        if g is None:
            return None
        c = K._all_coords(g)
        return c is None or len(c) == 0
    return pd.Series([empty(g) for g in _decode_series(b)])


@pandas_udf(IntegerType())
def st_dimension(b: pd.Series) -> pd.Series:
    dim = {"Point": 0, "MultiPoint": 0, "LineString": 1, "MultiLineString": 1,
           "Polygon": 2, "MultiPolygon": 2}
    def d(g):
        if g is None:
            return None
        if g[0] == "GeometryCollection":
            return max((d(p) for p in g[1]), default=0)
        return dim[g[0]]
    return pd.Series([d(g) for g in _decode_series(b)], dtype="Int32")


@pandas_udf(BinaryType())
def st_geometryn(b: pd.Series, n: pd.Series) -> pd.Series:
    def pick(g, i):
        if g is None or i is None:
            return None
        i = int(i) - 1  # 1-based like the reference / PostGIS
        name, p = g
        if name == "MultiPolygon":
            return W.encode(("Polygon", p[i])) if 0 <= i < len(p) else None
        if name == "MultiLineString":
            return W.encode(("LineString", p[i])) if 0 <= i < len(p) else None
        if name == "MultiPoint":
            return W.encode(("Point", p[i])) if 0 <= i < len(p) else None
        if name == "GeometryCollection":
            return W.encode(p[i]) if 0 <= i < len(p) else None
        return W.encode(g) if i == 0 else None
    return pd.Series([pick(g, i) for g, i in zip(_decode_series(b), n)])


@pandas_udf(BinaryType())
def st_pointn(b: pd.Series, n: pd.Series) -> pd.Series:
    def pick(v, g, i):
        if g is None or i is None or g[0] != "LineString":
            return None
        i = int(i)
        pts = g[1]
        # preserve the source's M flag on the extracted point
        m = W._read_header(bytes(v), 0)[3]
        if i >= 1 and i <= len(pts):
            return W.encode(("Point", pts[i - 1]), m_flag=m)
        if -len(pts) <= i <= -1:
            return W.encode(("Point", pts[i]), m_flag=m)
        return None
    return pd.Series([pick(v, g, i)
                      for v, g, i in zip(b, _decode_series(b), n)])


@pandas_udf(BinaryType())
def st_startpoint(b: pd.Series) -> pd.Series:
    # reference semantics (test_functions.py:2583-2607): first coordinate of
    # ANY non-empty geometry, preserving the M flag
    def first(v, g):
        if g is None:
            return None
        c = K._all_coords(g)
        if c is None or not len(c) or np.any(np.isnan(c[0])):
            return None
        return W.encode(("Point", c[0]), m_flag=W._read_header(bytes(v), 0)[3])
    return pd.Series([first(v, g) for v, g in zip(b, _decode_series(b))])


@pandas_udf(BinaryType())
def st_endpoint(b: pd.Series) -> pd.Series:
    # reference/PostGIS: LineString ONLY (asymmetric with StartPoint)
    def last(v, g):
        if g is None or g[0] != "LineString" or not len(g[1]):
            return None
        return W.encode(("Point", g[1][-1]),
                        m_flag=W._read_header(bytes(v), 0)[3])
    return pd.Series([last(v, g) for v, g in zip(b, _decode_series(b))])


@pandas_udf(BooleanType())
def st_isclosed(b: pd.Series) -> pd.Series:
    def closed(g):
        # reference semantics (test_functions.py:2104-2129): empties are NOT
        # closed; points/polygons are; collections = all parts closed
        if g is None:
            return None
        name, p = g
        if name == "LineString":
            return len(p) > 0 and bool(np.array_equal(p[0], p[-1]))
        if name == "MultiLineString":
            return (len(p) > 0
                    and all(len(l) > 0 and np.array_equal(l[0], l[-1])
                            for l in p))
        if name == "Point":
            return not bool(np.any(np.isnan(np.asarray(p, dtype=float))))
        if name == "MultiPoint":
            return len(p) > 0
        if name == "Polygon":
            return bool(p)
        if name == "MultiPolygon":
            return len(p) > 0
        if name == "GeometryCollection":
            return len(p) > 0 and all(closed(q) for q in p)
        return False
    return pd.Series([closed(g) for g in _decode_series(b)])


# ---------------------------------------------------------------------------
# measures
# ---------------------------------------------------------------------------

def _st_area_impl(b: pd.Series) -> pd.Series:
    """Batch fast path (round-5 perf item): hole-free single-ring polygon
    WKB rows group by vertex count and run one vectorized shoelace
    (einsum) per group — no per-row decode.  Everything else (multi-ring,
    multipolygon, collections, non-areal) takes the per-row kernel.
    einsum's pairwise sum can differ from the per-row BLAS dot in the last
    ulp (~1e-13 relative); every area oracle quantizes far above that."""
    import struct
    out = np.full(len(b), np.nan)
    groups: dict[tuple, list] = {}
    rest = []
    vals = b.tolist()
    for i, bt in enumerate(vals):
        if bt is None:
            continue
        bt = bytes(bt)
        if (len(bt) >= 29 and bt[0] == 1
                and bt[1:9] == b"\x03\x00\x00\x00\x01\x00\x00\x00"):
            k = struct.unpack_from("<I", bt, 9)[0]
            if len(bt) == 13 + 16 * k:
                groups.setdefault((len(bt), k), []).append(i)
                continue
        rest.append(i)
    for (L, k), idx in groups.items():
        blob = np.frombuffer(b"".join(vals[i] for i in idx), dtype=np.uint8)
        coords = np.ascontiguousarray(
            blob.reshape(len(idx), L)[:, 13:]).view(np.float64).reshape(
                len(idx), k, 2)
        x, y = coords[:, :, 0], coords[:, :, 1]
        a2 = np.einsum("ij,ij->i", x, np.roll(y, -1, axis=1)) \
            - np.einsum("ij,ij->i", y, np.roll(x, -1, axis=1))
        out[idx] = np.abs(a2) / 2.0
    if rest:
        dec = W.decode
        for i in rest:
            g = dec(bytes(vals[i]))
            out[i] = np.nan if g is None else K.geom_area(g)
    return pd.Series(out)


st_area = pandas_udf(_st_area_impl, DoubleType())


def _st_length_impl(b: pd.Series) -> pd.Series:
    """Batch fast path (mirrors _st_area_impl): little-endian 2-D
    LineString WKB rows group by vertex count and run one vectorized
    segment-length pass per group; everything else (multi, Z/M, EWKB)
    takes the per-row kernel.  Axis-batched hypot+sum can differ from the
    per-row pairwise sum in the last ulp — length consumers all compare
    with tolerances far above that."""
    import struct
    out = np.full(len(b), np.nan)
    groups: dict[tuple, list] = {}
    rest = []
    vals = b.tolist()
    for i, bt in enumerate(vals):
        if bt is None:
            continue
        bt = bytes(bt)
        if len(bt) >= 9 and bt[0] == 1 and bt[1:5] == b"\x02\x00\x00\x00":
            k = struct.unpack_from("<I", bt, 5)[0]
            if len(bt) == 9 + 16 * k and k >= 2:
                groups.setdefault((len(bt), k), []).append(i)
                continue
        rest.append(i)
    for (L, k), idx in groups.items():
        blob = np.frombuffer(b"".join(vals[i] for i in idx), dtype=np.uint8)
        coords = np.ascontiguousarray(
            blob.reshape(len(idx), L)[:, 9:]).view(np.float64).reshape(
                len(idx), k, 2)
        d = np.diff(coords, axis=1)
        out[idx] = np.hypot(d[:, :, 0], d[:, :, 1]).sum(axis=1)
    if rest:
        for i in rest:
            g = W.decode(bytes(vals[i]))
            out[i] = np.nan if g is None else K.geom_length(g)
    return pd.Series(out)


st_length = pandas_udf(_st_length_impl, DoubleType())


@pandas_udf(DoubleType())
def st_perimeter(b: pd.Series) -> pd.Series:
    return pd.Series([np.nan if g is None else K.geom_perimeter(g) for g in _decode_series(b)])


@pandas_udf(DoubleType())
def st_distance(b1: pd.Series, b2: pd.Series) -> pd.Series:
    n = len(b1)
    if n and _all_points(b1):
        px, py = W.wkb_to_points(b1)
        if _all_points(b2):
            qx, qy = W.wkb_to_points(b2)
            return pd.Series(np.hypot(px - qx, py - qy))
        out = np.full(n, np.nan)
        groups: dict[bytes, list[int]] = {}
        for i, v in enumerate(b2):
            if v is not None:
                groups.setdefault(bytes(v), []).append(i)
        for raw, idx in groups.items():
            g = W.decode(raw)
            ii = np.asarray(idx)
            out[ii] = K.points_to_geom_distance(px[ii], py[ii], g)
        return pd.Series(out)
    g1 = _decode_series(b1)
    g2 = _decode_series(b2)
    return pd.Series([K.geom_distance(a, c) if a is not None and c is not None else np.nan
                      for a, c in zip(g1, g2)])


# ---------------------------------------------------------------------------
# predicates
# ---------------------------------------------------------------------------

# predicate name -> pairwise kernel(left_geom, right_geom).  The refine UDFs
# below and the spatial join's broadcast tier both read this one table, so
# a join's pair set cannot depend on which physical plan refined it.
# ``dwithin`` takes the distance as a third argument.
PREDICATE_KERNELS = {
    "intersects": K.geom_intersects,
    "contains": K.geom_contains,
    "within": K.geom_within,
    "covers": K.geom_covers,
    "coveredby": K.geom_covered_by,
    "equals": K.geom_equals,
    "touches": K.geom_touches,
    "crosses": K.geom_crosses,
    "overlaps": K.geom_overlaps,
    "dwithin": K.geom_dwithin,
}

@pandas_udf(BooleanType())
def st_intersects(b1: pd.Series, b2: pd.Series) -> pd.Series:
    return _pairwise_bool(b1, b2, PREDICATE_KERNELS["intersects"],
                          point_left_fn=lambda px, py, g: K.points_in_geom(px, py, g))


@pandas_udf(BooleanType())
def st_contains(b1: pd.Series, b2: pd.Series) -> pd.Series:
    return _pairwise_bool(b1, b2, PREDICATE_KERNELS["contains"])


@pandas_udf(BooleanType())
def st_within(b1: pd.Series, b2: pd.Series) -> pd.Series:
    def pt_within(px, py, g):
        if g is None:
            return np.zeros(len(px), dtype=bool)
        if g[0] not in ("Polygon", "MultiPolygon"):
            # point within point/multipoint/line: membership minus
            # boundary-only locations (line endpoints)
            res = K.points_in_geom(px, py, g)
            if g[0] in ("LineString", "MultiLineString"):
                for i in np.nonzero(res)[0]:
                    if K._is_line_endpoint(np.array([px[i], py[i]]), g):
                        res[i] = False
            return res
        inside = K.points_in_geom(px, py, g)
        # ST_Within(point, poly) is false for boundary-only points
        for i in np.nonzero(inside)[0]:
            if K._on_boundary_only(g, px[i], py[i]):
                inside[i] = False
        return inside
    return _pairwise_bool(b1, b2, PREDICATE_KERNELS["within"],
                          point_left_fn=pt_within)


@pandas_udf(BooleanType())
def st_covers(b1: pd.Series, b2: pd.Series) -> pd.Series:
    return _pairwise_bool(b1, b2, PREDICATE_KERNELS["covers"])


@pandas_udf(BooleanType())
def st_coveredby(b1: pd.Series, b2: pd.Series) -> pd.Series:
    return _pairwise_bool(b1, b2, PREDICATE_KERNELS["coveredby"],
                          point_left_fn=lambda px, py, g: K.points_in_geom(px, py, g))


@pandas_udf(BooleanType())
def st_disjoint(b1: pd.Series, b2: pd.Series) -> pd.Series:
    return _pairwise_bool(b1, b2, K.geom_disjoint,
                          point_left_fn=lambda px, py, g: ~K.points_in_geom(px, py, g))


@pandas_udf(BooleanType())
def st_equals(b1: pd.Series, b2: pd.Series) -> pd.Series:
    return _pairwise_bool(b1, b2, PREDICATE_KERNELS["equals"])


@pandas_udf(BooleanType())
def st_dwithin(b1: pd.Series, b2: pd.Series, d: pd.Series) -> pd.Series:
    n = len(b1)
    dist = d.to_numpy(dtype=np.float64)
    if n and _all_points(b1):
        px, py = W.wkb_to_points(b1)
        out = np.zeros(n, dtype=bool)
        null_mask = np.array([v is None for v in b2]) | np.isnan(dist)
        groups: dict[bytes, list[int]] = {}
        for i, v in enumerate(b2):
            if v is not None:
                groups.setdefault(bytes(v), []).append(i)
        for raw, idx in groups.items():
            g = W.decode(raw)
            ii = np.asarray(idx)
            out[ii] = K.points_to_geom_distance(px[ii], py[ii], g) <= dist[ii]
        if null_mask.any():
            res = pd.array(out, dtype="boolean")
            res[null_mask] = None
            return pd.Series(res)
        return pd.Series(out)
    g1 = _decode_series(b1)
    g2 = _decode_series(b2)
    return pd.Series(pd.array(
        [None if a is None or c is None or dd != dd
         else bool(PREDICATE_KERNELS["dwithin"](a, c, dd))
         for a, c, dd in zip(g1, g2, dist)], dtype="boolean"))


# ---------------------------------------------------------------------------
# processing / transforms
# ---------------------------------------------------------------------------

@pandas_udf(BinaryType())
def st_envelope(b: pd.Series) -> pd.Series:
    return pd.Series([None if g is None else W.encode(K.geom_envelope(g))
                      for g in _decode_series(b)])


@pandas_udf(BinaryType())
def st_centroid(b: pd.Series) -> pd.Series:
    return pd.Series([None if g is None else W.encode(K.geom_centroid(g))
                      for g in _decode_series(b)])


@pandas_udf(BinaryType())
def st_convexhull(b: pd.Series) -> pd.Series:
    return pd.Series([None if g is None else W.encode(K.convex_hull(g))
                      for g in _decode_series(b)])


def _st_buffer_impl(*cols):
    """ST_Buffer(geom, distance[, params]) — variadic for the
    PostGIS-style parameter-string overload (reference signature
    docs/reference/sql/st_buffer.qmd:30-41: quad_segs, endcap, join,
    mitre_limit, side).  Styled construction in geometry/buffer.py
    replays the reference's GEOS area rows exactly.

    Three cross-row batch tiers, detected on RAW little-endian WKB so
    grouped rows never pay a per-row decode (mirrors _st_area_impl):
    point buffers (shared circle template, round 5), single-ring convex
    polygon buffers (flattened offset-curve trace, round 6 — the
    reference benchmark's polygons_simple/complex shape), and the
    pooled winding sweep for everything routed to a part/edge union."""
    import struct

    from sedona_db_spark.geometry.buffer import (batch_convex_offset_rings,
                                                 buffer_route,
                                                 circle_template,
                                                 parse_buffer_params)
    from sedona_db_spark.geometry.winding_batch import union_polygons_batch
    b, d = cols[0], cols[1]
    style = cols[2] if len(cols) > 2 else None
    nrow = len(b)
    out: list = [None] * nrow
    param_cache: dict = {}
    vals = b.tolist()
    dvals = d.tolist()
    svals = style.tolist() if style is not None else None
    batches: dict[int, list] = {}          # point tier
    poly_groups: dict[tuple, list] = {}    # convex-candidate tier
    rest_raw: list = []                    # (i, wkb, dd, p) per-row rows
    rest_ring: list = []                   # (i, oriented ring, dd, p)
    for i in range(nrow):
        bt = vals[i]
        dd = dvals[i]
        if bt is None or dd is None:
            continue
        dd = float(dd)
        if dd != dd:                       # NaN distance
            continue
        skey = (svals[i] if svals is not None else None) or ""
        p = param_cache.get(skey)
        if p is None:
            p = parse_buffer_params(skey or None)
            param_cache[skey] = p
        bt = bytes(bt)
        if (dd > 0 and p.side == "both" and len(bt) == 21
                and bt[:5] == b"\x01\x01\x00\x00\x00"
                and p.endcap in ("round", "square")):
            x, y = struct.unpack_from("<2d", bt, 5)
            if x == x and y == y:                     # NaN-free center
                key = p.quad_segs if p.endcap == "round" else "square"
                batches.setdefault(key, []).append((i, x, y, dd))
                continue
        if (dd > 0 and p.side == "both" and p.join == "round"
                and len(bt) >= 77 and bt[0] == 1
                and bt[1:9] == b"\x03\x00\x00\x00\x01\x00\x00\x00"):
            k = struct.unpack_from("<I", bt, 9)[0]
            if len(bt) == 13 + 16 * k:     # single ring, k >= 4 points
                poly_groups.setdefault((len(bt), k, skey), []).append(i)
                continue
        rest_raw.append((i, bt, dd, p))
    # unit-square template for square-cap point buffers — DERIVED from
    # buffer._square_ring so the two construction paths cannot drift
    from sedona_db_spark.geometry.buffer import _square_ring
    square_tmpl = _square_ring(0.0, 0.0, 1.0)
    for qs, rows in batches.items():
        tmpl = square_tmpl if qs == "square" else circle_template(qs)
        k = len(tmpl)
        arr = np.array(rows, dtype=np.float64)        # (n, 4)
        idx = arr[:, 0].astype(np.int64)
        centers = arr[:, 1:3]
        dists = arr[:, 3]
        # split per-axis multiply-add (float-identical to tmpl*r + c but
        # ~10x faster than the 3-D broadcast on this memory-bound host)
        rings = np.empty((len(rows), k, 2))
        np.multiply(dists[:, None], tmpl[:, 0][None, :], out=rings[:, :, 0])
        rings[:, :, 0] += centers[:, 0:1]
        np.multiply(dists[:, None], tmpl[:, 1][None, :], out=rings[:, :, 1])
        rings[:, :, 1] += centers[:, 1:2]
        hdr = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00" + struct.pack("<I", k)
        n = len(rows)
        buf = np.empty((n, len(hdr) + 16 * k), dtype=np.uint8)
        buf[:, :len(hdr)] = np.frombuffer(hdr, dtype=np.uint8)
        buf[:, len(hdr):] = rings.reshape(n, -1).view(np.uint8)
        for j in range(n):
            out[idx[j]] = buf[j].tobytes()
    # convex polygon tier (round 6): batch-decode each (bytes, k, style)
    # group straight from the WKB buffer, trace all accepted rows' offset
    # curves in one flat numpy pass, and write WKB per row; rows rejected
    # by the strict convexity screen fall to the per-row route below
    for (L, k, skey), idx in poly_groups.items():
        p = param_cache[skey]
        blob = np.frombuffer(b"".join(vals[i] for i in idx), dtype=np.uint8)
        coords = np.ascontiguousarray(
            blob.reshape(len(idx), L)[:, 13:]).view(np.float64).reshape(
                len(idx), k, 2)
        darr = np.array([float(dvals[i]) for i in idx], dtype=np.float64)
        okm, pts, rstart, rcnt, clean = batch_convex_offset_rings(
            coords, darr, p)
        j = 0
        for bi, (i, o) in enumerate(zip(idx, okm)):
            if o:
                s = int(rstart[j])
                c = int(rcnt[j])
                j += 1
                ring = pts[s:s + c]
                out[i] = (b"\x01\x03\x00\x00\x00\x01\x00\x00\x00"
                          + struct.pack("<I", c + 1)
                          + ring.tobytes() + ring[0].tobytes())
            elif bi in clean:
                # well-formed concave ring: already decoded + oriented —
                # route the traced tiers directly (no re-decode/normalize)
                rest_ring.append((i, clean[bi], float(dvals[i]), p))
            else:
                rest_raw.append((i, bytes(vals[i]), float(dvals[i]), p))
    # generic tier: route each row (closed-form result, offset-curve edge
    # soup, or polygon part soup) and run ALL union rows of the batch in
    # one flattened winding sweep (winding_batch — byte-identical to the
    # per-row union_polygons/union_edges path, property-tested in
    # tests/test_buffer_batch.py)
    union_rows: list = []

    def _take(i, route):
        if route is None:
            return
        tag, val = route
        if tag == "geom":
            out[i] = W.encode(val)
        elif tag == "edges" or val:
            union_rows.append((i, val))
        else:                                   # empty part soup
            out[i] = W.encode(("Polygon", []))

    from sedona_db_spark.geometry.buffer import _traced_polygon_route
    for i, ring, dd, p in rest_ring:
        closed = np.vstack([ring, ring[:1]])
        _take(i, _traced_polygon_route([[ring]], ("Polygon", [closed]),
                                       [[closed]], dd, p))
    if rest_raw:
        # routes for the whole batch at once: collection children's
        # offset curves build cross-row in flat numpy
        # (buffer.buffer_route_batch / geometry/offset_batch)
        from sedona_db_spark.geometry.buffer import buffer_route_batch
        decoded = [(W.decode(bt), dd, p) for _, bt, dd, p in rest_raw]
        for (i, _, _, _), route in zip(
                rest_raw, buffer_route_batch(decoded)):
            if route is not None:
                _take(i, route)
    if union_rows:
        # crossing-split boundary tracer first (round 7): recovers the
        # ring structure of each soup and traces the nonzero-winding
        # boundary directly — ~5-40x the slab sweep on the collection /
        # polyline soups; refuses non-generic rows, which then run the
        # winding-exact sweep below (differential gate:
        # tests/test_ring_union.py)
        from sedona_db_spark.geometry import ring_union as RU
        pending = union_rows
        if RU.ENABLED:
            ring_rows = []
            for _, val in union_rows:
                if isinstance(val, tuple):
                    ring_rows.append(RU.rings_from_edges(val[0]))
                elif isinstance(val, np.ndarray):
                    ring_rows.append(RU.rings_from_edges(val))
                else:
                    ring_rows.append(RU.rings_of_parts(val))
            traced = RU.union_rings_batch(ring_rows)
            pending = []
            for (i, val), res in zip(union_rows, traced):
                if res is not None:
                    out[i] = W.encode(res)
                else:
                    pending.append((i, val))
        if pending:
            results = union_polygons_batch([v for _, v in pending])
            for (i, _), res in zip(pending, results):
                out[i] = W.encode(res)
    return pd.Series(out, dtype=object)


st_buffer = pandas_udf(_st_buffer_impl, BinaryType())


def _map_coords(g, fn):
    if g is None:
        return None
    name, p = g
    if name == "Point":
        return (name, fn(np.asarray(p, dtype=np.float64).reshape(1, -1))[0])
    if name in ("LineString", "MultiPoint"):
        return (name, fn(p))
    if name in ("Polygon", "MultiLineString"):
        return (name, [fn(r) for r in p])
    if name == "MultiPolygon":
        return (name, [[fn(r) for r in rings] for rings in p])
    if name == "GeometryCollection":
        return (name, [_map_coords(q, fn) for q in p])
    raise ValueError(name)


@pandas_udf(BinaryType())
def st_flipcoordinates(b: pd.Series) -> pd.Series:
    def flip(arr):
        out = arr.copy()
        out[:, 0], out[:, 1] = arr[:, 1].copy(), arr[:, 0].copy()
        return out
    return pd.Series([None if g is None else W.encode(_map_coords(g, flip))
                      for g in _decode_series(b)])


def _st_translate_impl(*cols):
    """ST_Translate(geom, dx, dy[, dz]) — variadic so ONE SQL registration
    serves both arities (Spark UDFs cannot overload by name).  NULL in any
    offset propagates to NULL (reference test_transforms.py rows); dz only
    moves a true Z column (M stays fixed, 2-D geometries ignore dz)."""
    b, dx, dy = cols[0], cols[1], cols[2]
    dz = cols[3] if len(cols) > 3 else None
    out = []
    zs = dz if dz is not None else [None] * len(b)
    for v, g, tx, ty, tz in zip(b, _decode_series(b), dx, dy, zs):
        if (g is None or pd.isna(tx) or pd.isna(ty)
                or (dz is not None and pd.isna(tz))):
            out.append(None)
            continue
        _, _, has_z, has_m, _, _ = W._read_header(bytes(v), 0)
        tzv = float(tz) if (dz is not None and has_z) else None

        def mv(arr, tx=float(tx), ty=float(ty), tzv=tzv):
            o = arr.copy()
            o[:, 0] += tx
            o[:, 1] += ty
            if tzv is not None and o.shape[1] > 2:
                o[:, 2] += tzv
            return o
        out.append(W.encode(_map_coords(g, mv), m_flag=has_m))
    return pd.Series(out)


st_translate = pandas_udf(_st_translate_impl, BinaryType())


@pandas_udf(BinaryType())
def st_scale(b: pd.Series, sx: pd.Series, sy: pd.Series) -> pd.Series:
    out = []
    for v, g, fx, fy in zip(b, _decode_series(b), sx, sy):
        if g is None or pd.isna(fx) or pd.isna(fy):
            out.append(None)
            continue
        def sc(arr, fx=float(fx), fy=float(fy)):
            o = arr.copy()
            o[:, 0] *= fx
            o[:, 1] *= fy
            return o
        out.append(W.encode(_map_coords(g, sc),
                            m_flag=W._read_header(bytes(v), 0)[3]))
    return pd.Series(out)


def _reverse_geom(g):
    """Reverse vertex order of line/ring sequences; Point and MultiPoint
    keep their order (GEOS: reversing a point is a no-op, and MultiPoint
    member order is not a vertex sequence — reference test_st_reverse)."""
    if g is None:
        return None
    name = g[0]
    if name in ("Point", "MultiPoint"):
        return g
    if name == "GeometryCollection":
        return (name, [_reverse_geom(q) for q in g[1]])
    return _map_coords(g, lambda a: a[::-1].copy())


@pandas_udf(BinaryType())
def st_reverse(b: pd.Series) -> pd.Series:
    return pd.Series([None if g is None else W.encode(_reverse_geom(g))
                      for g in _decode_series(b)])


@pandas_udf(BinaryType())
def st_force2d(b: pd.Series) -> pd.Series:
    return pd.Series([None if g is None else W.encode(_map_coords(g, lambda a: a[:, :2].copy()))
                      for g in _decode_series(b)])


# ---------------------------------------------------------------------------
# grid / cell helpers (SD_ namespace, mirrors the reference's sd_order key)
# ---------------------------------------------------------------------------

@pandas_udf(LongType())
def sd_cell_xy(lon: pd.Series, lat: pd.Series, res: pd.Series) -> pd.Series:
    r = int(res.iloc[0])
    return pd.Series(grid.cell_ids(lon.to_numpy(np.float64), lat.to_numpy(np.float64), r))


@pandas_udf(LongType())
def sd_cell(b: pd.Series, res: pd.Series) -> pd.Series:
    x, y = W.wkb_to_points(b)
    r = int(res.iloc[0])
    return pd.Series(grid.cell_ids(x, y, r))


UDFS = {
    "ST_Point": st_point,
    "ST_GeomFromText": st_geomfromtext,
    "ST_GeomFromWKT": st_geomfromtext,
    "ST_GeomFromWKB": st_geomfromwkb,
    "ST_AsText": st_astext,
    "ST_AsBinary": st_asbinary,
    "ST_X": st_x,
    "ST_Y": st_y,
    "ST_XMin": st_xmin,
    "ST_YMin": st_ymin,
    "ST_XMax": st_xmax,
    "ST_YMax": st_ymax,
    "ST_GeometryType": st_geometrytype,
    "ST_NPoints": st_npoints,
    "ST_NumPoints": st_numpoints,
    "ST_NRings": st_nrings,
    "ST_NumGeometries": st_numgeometries,
    "ST_IsEmpty": st_isempty,
    "ST_Dimension": st_dimension,
    "ST_GeometryN": st_geometryn,
    "ST_PointN": st_pointn,
    "ST_StartPoint": st_startpoint,
    "ST_EndPoint": st_endpoint,
    "ST_IsClosed": st_isclosed,
    "ST_Area": st_area,
    "ST_Length": st_length,
    "ST_Perimeter": st_perimeter,
    "ST_Distance": st_distance,
    "ST_Intersects": st_intersects,
    "ST_Contains": st_contains,
    "ST_Within": st_within,
    "ST_Covers": st_covers,
    "ST_CoveredBy": st_coveredby,
    "ST_Disjoint": st_disjoint,
    "ST_Equals": st_equals,
    "ST_DWithin": st_dwithin,
    "ST_Envelope": st_envelope,
    "ST_Centroid": st_centroid,
    "ST_ConvexHull": st_convexhull,
    "ST_Buffer": st_buffer,
    "ST_FlipCoordinates": st_flipcoordinates,
    "ST_Translate": st_translate,
    "ST_Scale": st_scale,
    "ST_Reverse": st_reverse,
    "ST_Force2D": st_force2d,
    "SD_CellXY": sd_cell_xy,
    "SD_Cell": sd_cell,
}
