"""Replay of the reference's ST_ConcaveHull test modules.

These tests compare via ST_Equals / ST_IsEmpty (multiple assert shapes),
so they fall outside the generic single-assert harvest in
test_reference_functions_harvest.py; this dedicated replay AST-harvests
both parametrize lists (test_st_concavehull and
test_st_concavehull_allow_holes — the reference verifies the same rows
against PostGIS/GEOS) and checks our GEOS-semantics implementation
(geometry/hull.py) semantically, through the registered SQL surface.
"""

import ast
import os

import numpy as np
import pytest

from sedona_db_spark.geometry import kernels as K
from sedona_db_spark.geometry import wkb as W

REF = "/root/reference/python/sedonadb/tests/functions/test_functions.py"
needs_ref = pytest.mark.skipif(not os.path.exists(REF), reason=f"{REF} absent")


def _rows_of(name):
    tree = ast.parse(open(REF).read())
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == name:
            for dec in node.decorator_list:
                if not (isinstance(dec, ast.Call)
                        and getattr(dec.func, "attr", "") == "parametrize"):
                    continue
                try:
                    names = ast.literal_eval(dec.args[0])
                except (ValueError, TypeError):
                    continue
                if isinstance(names, tuple) and "geom" in names:
                    return names, ast.literal_eval(dec.args[1])
    raise AssertionError(f"harvest failed for {name}")


def _cases():
    out = []
    for tname in ("test_st_concavehull", "test_st_concavehull_allow_holes"):
        names, rows = _rows_of(tname)
        for i, row in enumerate(rows):
            d = dict(zip(names, row))
            out.append((f"{tname}-{i}", d["geom"], d["pctconvex"],
                        bool(d.get("allow_holes", False)), d["expected"]))
    return out


CASES = _cases() if os.path.exists(REF) else []


@needs_ref
@pytest.mark.parametrize(("cid", "geom", "pct", "holes", "expected"), CASES,
                         ids=[c[0] for c in CASES])
def test_concavehull_replay(spark, cid, geom, pct, holes, expected):
    if geom is None:
        sql = "SELECT ST_ConcaveHull(NULL, NULL)"
    else:
        args = f"ST_GeomFromText('{geom}'), {pct}"
        if "allow_holes" in cid:
            args += f", {str(holes).lower()}"
        sql = f"SELECT ST_ConcaveHull({args})"
    got = spark.sql(sql + " AS v").collect()[0][0]
    if expected is None:
        assert got is None
        return
    g = W.decode(bytes(got))
    if "EMPTY" in expected.upper():
        if g[0] == "Point":
            assert bool(np.isnan(np.asarray(g[1])).all())
        else:
            assert len(g[1]) == 0
        return
    e = W.from_wkt(expected)
    if g[0] == "Point":
        assert e[0] == "Point" and np.allclose(np.asarray(g[1]),
                                               np.asarray(e[1]))
    else:
        assert K.geom_equals(g, e), \
            f"region mismatch: got {W.wkb_to_wkt(bytes(got))!r}, " \
            f"want {expected!r}"


@pytest.mark.parametrize("seed", [1, 7, 23])
@pytest.mark.parametrize("ratio", [0.0, 0.3, 0.7, 1.0])
def test_concavehull_properties(seed, ratio):
    """Contract over random clouds: the hull is a valid polygon that
    covers every input point, is contained in the convex hull, and at
    ratio=1 equals the convex hull."""
    from sedona_db_spark.geometry import hull as H

    rng = np.random.default_rng(seed)
    pts = rng.uniform(-50, 50, (40, 2)).round(3)
    g = ("MultiPoint", pts)
    got = H.concave_hull_exact(g, ratio, False)
    assert got[0] == "Polygon" and len(got[1]) >= 1
    ring = got[1][0]
    # closed, non-self-intersecting shell
    assert np.array_equal(ring[0], ring[-1])
    from sedona_db_spark.geometry import algos as A
    assert not A.ring_self_intersects(ring)
    # every input point covered (boundary-inclusive)
    inside = K.points_in_geom(pts[:, 0], pts[:, 1], got)
    assert bool(inside.all()), "input point dropped from hull coverage"
    # within the convex hull; equal at ratio=1
    cvx = K.convex_hull(g)
    assert K.geom_area(got) <= K.geom_area(cvx) + 1e-9
    if ratio == 1.0:
        assert K.geom_equals(got, cvx)
