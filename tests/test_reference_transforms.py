"""Replay of the reference's transforms / distance / geography test modules.

AST-harvested (ast.literal_eval over the parametrize lists at collection
time, the same self-updating technique as test_reference_predicates.py)
from:

- functions/test_transforms.py  -> ST_Translate 2-D and 3-D (incl. NULL
  propagation, Z/M/ZM preservation, empties)
- functions/test_distance.py    -> ST_Distance
- geography/test_geog_measures.py        -> ST_Distance(geog) == our
  ST_DistanceSphere (documented tier: sphere, not S2's exact predicates)
- geography/test_geog_accessors.py       -> ST_Area(geog) == ST_AreaSphere
- geography/test_geog_transformations.py -> ST_Centroid at wkt precision 4
- geography/test_geog_predicates.py      -> ST_Intersects(geog) ==
  ST_IntersectsSphere
- geography/test_constructors_parsers_formatters.py -> ST_AsBinary golden
  bytes (ISO WKB incl. ZM type codes and the empty-point NaN encoding)

The reference verifies these same rows against PostGIS/BigQuery; replaying
them here transitively checks us against three independent engines.
"""

import ast
import os

import pytest

REF_DIR = "/root/reference/python/sedonadb/tests"
TRANSFORMS = f"{REF_DIR}/functions/test_transforms.py"
DISTANCE = f"{REF_DIR}/functions/test_distance.py"
GEOG_MEASURES = f"{REF_DIR}/geography/test_geog_measures.py"
GEOG_ACCESSORS = f"{REF_DIR}/geography/test_geog_accessors.py"
GEOG_TRANSFORMATIONS = f"{REF_DIR}/geography/test_geog_transformations.py"
GEOG_PREDICATES = f"{REF_DIR}/geography/test_geog_predicates.py"
GEOG_FORMATTERS = (
    f"{REF_DIR}/geography/test_constructors_parsers_formatters.py")


def _needs(*paths):
    """Skip unless every reference file in ``paths`` is present."""
    missing = next((p for p in paths if not os.path.exists(p)), None)
    return pytest.mark.skipif(missing is not None, reason=f"{missing} absent")


def _parametrize_rows(path: str, test_name: str, n_args: int):
    """Rows of the (first matching) parametrize decorator of ``test_name``
    whose tuples have ``n_args`` elements.  When ``path`` is absent this is
    one placeholder row, so the test's ``_needs(path)`` mark reports the
    skip rather than pytest's empty-parameter-set skip."""
    if not os.path.exists(path):
        return [pytest.param(*([None] * n_args), id="absent")]
    tree = ast.parse(open(path).read())
    for node in tree.body:
        if not (isinstance(node, ast.FunctionDef) and node.name == test_name):
            continue
        for dec in node.decorator_list:
            if not (isinstance(dec, ast.Call)
                    and getattr(dec.func, "attr", "") == "parametrize"):
                continue
            try:
                rows = ast.literal_eval(dec.args[1])
            except (ValueError, IndexError):
                continue
            if rows and isinstance(rows[0], tuple) and len(rows[0]) == n_args:
                return rows
    return []


def _sql_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return f"ST_GeomFromText('{v}')"
    return repr(v)


def _norm_empty(wkt):
    """The reference's expected strings render translated empties as
    'POINT (nan nan)' (a geoarrow-c WKT artifact its own comment disclaims);
    both engines 'correctly output empties', so normalize that form and
    dimension tokens on empties to the plain EMPTY spelling."""
    if wkt is None:
        return None
    if "nan" in wkt:
        return wkt.split(" ")[0] + " EMPTY"
    if wkt.endswith("EMPTY"):
        return wkt.split(" ")[0] + " EMPTY"
    if wkt.startswith("MULTIPOINT"):
        # 'MULTIPOINT ((1 3), (3 5))' and 'MULTIPOINT (1 3, 3 5)' are the
        # same geometry; canonicalize to the paren-free spelling
        head, _, inner = wkt.partition("(")
        return head + "(" + inner.replace("(", "").replace(")", "") + ")"
    return wkt


T2D = _parametrize_rows(TRANSFORMS, "test_st_translate", 4)
T3D = _parametrize_rows(TRANSFORMS, "test_st_translate_3d", 5)
DIST = _parametrize_rows(DISTANCE, "test_st_distance", 3)
GEOG_DIST = _parametrize_rows(GEOG_MEASURES, "test_st_distance", 3)
GEOG_AREA = _parametrize_rows(GEOG_ACCESSORS, "test_st_area", 2)
GEOG_CENTROID = _parametrize_rows(GEOG_TRANSFORMATIONS, "test_st_centroid", 2)
GEOG_INTERSECTS = _parametrize_rows(GEOG_PREDICATES, "test_st_intersects", 3)
ASBIN = _parametrize_rows(GEOG_FORMATTERS, "test_st_asbinary", 2)


@_needs(TRANSFORMS, DISTANCE, GEOG_MEASURES, GEOG_ACCESSORS,
        GEOG_PREDICATES, GEOG_FORMATTERS)
def test_harvest_found_rows():
    assert len(T2D) >= 20 and len(T3D) >= 20 and len(DIST) >= 5
    assert len(GEOG_DIST) >= 3 and len(GEOG_AREA) >= 10
    assert len(GEOG_INTERSECTS) >= 5 and len(ASBIN) >= 5


@_needs(TRANSFORMS)
@pytest.mark.parametrize(("geom", "dx", "dy", "expected"), T2D)
def test_ref_translate_2d(spark, geom, dx, dy, expected):
    got = spark.sql(
        f"SELECT ST_AsText(ST_Translate({_sql_val(geom)}, "
        f"{_sql_val(dx)}, {_sql_val(dy)})) AS w").collect()[0]["w"]
    assert _norm_empty(got) == _norm_empty(expected)


@_needs(TRANSFORMS)
@pytest.mark.parametrize(("geom", "dx", "dy", "dz", "expected"), T3D)
def test_ref_translate_3d(spark, geom, dx, dy, dz, expected):
    got = spark.sql(
        f"SELECT ST_AsText(ST_Translate({_sql_val(geom)}, "
        f"{_sql_val(dx)}, {_sql_val(dy)}, {_sql_val(dz)})) AS w"
    ).collect()[0]["w"]
    assert _norm_empty(got) == _norm_empty(expected)


@_needs(DISTANCE)
@pytest.mark.parametrize(("geom1", "geom2", "expected"), DIST)
def test_ref_distance(spark, geom1, geom2, expected):
    got = spark.sql(
        f"SELECT ST_Distance({_sql_val(geom1)}, {_sql_val(geom2)}) AS d"
    ).collect()[0]["d"]
    if expected is None:
        assert got is None
    else:
        assert got == pytest.approx(expected, abs=1e-8)


@_needs(GEOG_MEASURES)
@pytest.mark.parametrize(("geom1", "geom2", "expected"), GEOG_DIST)
def test_ref_geog_distance(spark, geom1, geom2, expected):
    """Sphere tier vs the reference's S2: mean-radius spherical distance;
    tolerance covers the radius-model difference (<2e-7 relative) plus the
    polygon-boundary discretization."""
    got = spark.sql(
        f"SELECT ST_DistanceSphere({_sql_val(geom1)}, {_sql_val(geom2)}) AS d"
    ).collect()[0]["d"]
    if expected is None:
        assert got is None
    elif expected == 0:
        assert got == 0.0
    else:
        assert got == pytest.approx(expected, rel=1e-3)


@_needs(GEOG_ACCESSORS)
@pytest.mark.parametrize(("geog", "expected"), GEOG_AREA)
def test_ref_geog_area(spark, geog, expected):
    got = spark.sql(
        f"SELECT ST_AreaSphere({_sql_val(geog)}) AS a").collect()[0]["a"]
    if expected is None:
        assert got is None
    elif expected == 0:
        assert got == 0.0
    else:
        assert got == pytest.approx(expected, rel=1e-3)


@_needs(GEOG_TRANSFORMATIONS)
@pytest.mark.parametrize(("geom", "expected"), GEOG_CENTROID)
def test_ref_geog_centroid(spark, geom, expected):
    from sedona_db_spark.geometry import wkb as W
    got = spark.sql(
        f"SELECT ST_AsText(ST_Centroid({_sql_val(geom)})) AS w"
    ).collect()[0]["w"]
    g_got = W.from_wkt(got)
    g_exp = W.from_wkt(expected)
    assert g_got[0] == "Point"
    assert float(g_got[1][0]) == pytest.approx(float(g_exp[1][0]), abs=1e-4)
    assert float(g_got[1][1]) == pytest.approx(float(g_exp[1][1]), abs=1e-4)


@_needs(GEOG_PREDICATES)
@pytest.mark.parametrize(("geom1", "geom2", "expected"), GEOG_INTERSECTS)
def test_ref_geog_intersects(spark, geom1, geom2, expected):
    got = spark.sql(
        f"SELECT ST_IntersectsSphere({_sql_val(geom1)}, {_sql_val(geom2)}) AS b"
    ).collect()[0]["b"]
    assert got == expected


@_needs(GEOG_FORMATTERS)
@pytest.mark.parametrize(("geom", "expected"), ASBIN)
def test_ref_asbinary_golden(spark, geom, expected):
    got = spark.sql(
        f"SELECT ST_AsBinary({_sql_val(geom)}) AS b").collect()[0]["b"]
    assert bytes(got) == expected


def test_ref_order_contract(spark):
    """test_order.py contract: real geometries get a spatial key, EMPTY
    sorts after every real geometry, NULL sorts last.  (The reference's
    exact inter-point order comes from S2 cell ids; ours is a Hilbert
    curve — same locality property, different permutation, so the pinned
    expectation here is the NULL/EMPTY contract plus locality, not the S2
    byte order.)"""
    from pyspark.sql import functions as F
    rows = [(0, None), (1, "POINT EMPTY"), (2, "POINT (-80 -80)"),
            (3, "POINT (80 80)"), (4, "POINT (-79 -79)")]
    df = spark.createDataFrame(rows, ["i", "wkt"]).selectExpr(
        "i", "CASE WHEN wkt IS NULL THEN NULL "
        "ELSE ST_GeomFromText(wkt) END AS geometry")
    got = [r["i"] for r in df.orderBy(
        F.expr("SD_Order(geometry)").asc_nulls_last(), "i").collect()]
    # EMPTY (1) second-to-last, NULL (0) last; the two nearby points
    # (-80,-80) and (-79,-79) are adjacent in the order
    assert got[-1] == 0 and got[-2] == 1
    reals = got[:-2]
    assert abs(reals.index(2) - reals.index(4)) == 1


def test_ref_knnjoin_polygon_targets_contract(spark):
    """test_knnjoin.py::test_knn_join_with_polygons contract: point
    queries x polygon targets, k=3 -> exactly n_points*k rows, distances
    non-decreasing per query, and equal to the brute-force ST_Distance
    ranking (the reference checks the same via its PostGIS twin query)."""
    import numpy as np
    from pyspark.sql import functions as F
    from sedona_db_spark.geometry import kernels as K
    from sedona_db_spark.geometry import wkb as W
    from sedona_db_spark.operators import knn_join
    from sedona_db_spark.sources import fixtures as FX

    n_points, k = 15, 3
    pts = FX.random_points(n_points, seed=100)
    polys = FX.random_polygons(30, seed=101, num_vertices=(4, 8),
                               size=(0.001, 0.01))
    q = (spark.createDataFrame(pts)
         .select(F.col("id").alias("q_id"), F.col("geometry").alias("geom")))
    t = (spark.createDataFrame(polys)
         .select(F.col("id").alias("t_id"), F.col("geometry").alias("geom")))
    rows = knn_join(q, t, k, query_id="q_id", target_id="t_id").collect()
    assert len(rows) == n_points * k

    qx, qy = W.wkb_to_points(pts.geometry)
    tg = [W.decode(bytes(v)) for v in polys.geometry]
    per_q = {}
    for r in sorted(rows, key=lambda r: (r["q_id"], r["knn_dist"], r["t_id"])):
        per_q.setdefault(r["q_id"], []).append((r["t_id"], r["knn_dist"]))
    for qi, got in per_q.items():
        dists = np.array([
            K.points_to_geom_distance(np.array([qx[qi]]),
                                      np.array([qy[qi]]), g)[0]
            for g in tg])
        exp = sorted(range(len(tg)), key=lambda j: (dists[j], j))[:k]
        assert [tid for tid, _ in got] == exp
        ds = [d for _, d in got]
        assert ds == sorted(ds)
