"""The all-JVM tier's leaf refine, differential against the numpy kernels.

Under intersects, coveredby and within, a lon/lat probe joined to a
polygon layer takes a lambda-free refine: boundary cells are split into
finer leaves and each (leaf, build row) pair is a box test, a match with
no test, a small exact slot test or no candidate at all
(``operators/leaf_refine.py``).  The rows must equal the kernels' under
every join type, for probes on leaf corners and edges, polygon vertices
and edge midpoints, and at their ``nextafter`` neighbours; layers the
refine cannot decompose (touching rings, a polygon in a grid-border
cell) keep the lambda refine and must match too.
"""

import importlib

import numpy as np
import pandas as pd
import pytest

from sedona_db_spark.geometry import kernels as K
from sedona_db_spark.geometry import wkb as W
from sedona_db_spark.operators import spatial_join
from sedona_db_spark.sources.fixtures import regions_grid

SJ = importlib.import_module("sedona_db_spark.operators.memo")
LR = importlib.import_module("sedona_db_spark.operators.leaf_refine")

RES = 6                                   # coarse cells 5.625° x 2.8125°
HOWS = ("inner", "left", "left_semi", "left_anti", "mark")
KERNELS = {"intersects": K.geom_intersects,
           "coveredby": K.geom_covered_by,
           "within": K.geom_within}
# 1 ulp left of a coarse (so of every finer) cell line: a probe 2 ulps
# left of the line is assigned the cell right of it, past this edge
XE = float(np.nextafter(11.25, -np.inf))


def _poly(*rings):
    return ("Polygon", [np.asarray(r, dtype=np.float64) for r in rings])


def _comb(x0, y0, teeth, w, h):
    """A concave polygon: ``teeth`` notches cut into its top edge."""
    top = []
    for k in range(teeth):
        top += [(x0 + k * w, y0 + h), (x0 + k * w + w / 2, y0 + h * 0.45)]
    top.append((x0 + teeth * w, y0 + h))
    return [(x0, y0), (x0 + teeth * w, y0)] + top[::-1] + [(x0, y0)]


POLYS = [
    _poly([(1, 1), (9, 1.5), (9, 1.5), (8.5, 9), (2, 8), (1, 1)],
          [(4, 4), (6, 4.2), (5.5, 6), (4, 4)]),     # a hole, a repeated vertex
    ("MultiPolygon", [[np.array([(14, 1), (18, 2), (15, 5), (14, 1)], float)],
                      [np.array([(20, 6), (26, 6.5), (22, 9), (20, 6)],
                                float)]]),
    _poly(_comb(28.3, 1.2, teeth=6, w=0.8, h=1.4)),   # 26 vertices, one cell
    _poly([(XE - 2, 1), (XE, 1), (XE, 2.5), (XE - 1, 3), (XE - 2, 2.5),
           (XE - 2, 1)]),
    _poly([(30, 10), (36, 10), (36, 14), (30, 14), (30, 10)]),    # a box
]
LINES_POINTS = [
    ("LineString", np.array([(2, 11), (7, 12.5), (7, 12.5), (9, 11.2),
                             (13, 14)], float)),
    ("MultiPoint", np.array([(3, 3), (16, 3), (25.0, 7.0)], float)),
    ("Point", np.array([21.0, 7.5])),
]
# a hole touching its shell at a vertex, and two parts sharing a vertex:
# every leaf at that vertex holds two rings
TOUCHING = [
    _poly([(1, 1), (9, 1), (9, 9), (1, 8), (1, 1)],
          [(5, 1), (6, 3), (4, 3), (5, 1)]),
    ("MultiPolygon", [[np.array([(14, 1), (18, 1), (16, 4), (14, 1)], float)],
                      [np.array([(16, 4), (19, 7), (13, 7), (16, 4)],
                                float)]]),
]
# coarse cells on the grid border, where probes outside the world land
BORDER = [_poly([(176, 10), (179.9, 11), (177, 14), (176, 10)]),
          _poly([(-170, -89.5), (-165, -88), (-168, -86), (-170, -89.5)])]


def _around(x, y):
    return [(x, y)] + [(np.nextafter(x, dx), np.nextafter(y, dy))
                       for dx, dy in ((-np.inf, y), (np.inf, y),
                                      (x, -np.inf), (x, np.inf))]


def _probes(geoms, seed):
    """Vertices, edge midpoints, leaf-grid crossings of every edge and
    leaf corners around every vertex at each leaf level, each with its
    nextafter neighbours, plus random points over the layer."""
    pts = []
    for g in geoms:
        if g[0] == "Point":
            rings = [np.asarray([g[1]])]
        elif g[0] == "MultiPoint":
            rings = [np.asarray(g[1])]
        elif g[0] == "LineString":
            rings = [g[1]]
        else:
            parts = [g[1]] if g[0] == "Polygon" else g[1]
            rings = [r for rs in parts for r in rs]
        for ring in rings:
            ring = np.asarray(ring, dtype=np.float64)
            for (ax, ay), (bx, by) in zip(ring, np.roll(ring, -1, axis=0)):
                pts += _around(ax, ay) + _around((ax + bx) / 2, (ay + by) / 2)
                for lv in range(RES, RES + LR.MAX_LEAF_SPLIT + 1):
                    w, h = 360.0 / (1 << lv), 180.0 / (1 << lv)
                    kx = np.floor((ax + 180.0) / w)
                    for k in (kx - 1, kx, kx + 1):
                        cx = -180.0 + (k + 1) * w
                        cy = -90.0 + (np.floor((ay + 90.0) / h) + 1) * h
                        pts += _around(cx, cy) + _around(cx, ay)
                    if ax != bx and lv == RES + LR.MAX_LEAF_SPLIT:
                        lo, hi = sorted((ax, bx))
                        for k in np.arange(np.ceil((lo + 180.0) / w),
                                           np.floor((hi + 180.0) / w) + 1):
                            cx = -180.0 + k * w
                            pts += _around(cx, ay + (by - ay) * (cx - ax)
                                           / (bx - ax))
    lo = np.min(pts, axis=0) - 1.0
    hi = np.max(pts, axis=0) + 1.0
    rng = np.random.default_rng(seed)
    pts += [tuple(p) for p in rng.uniform(lo, hi, (300, 2))]
    return sorted(set((float(x), float(y)) for x, y in pts))


def _layer(spark, geoms):
    return spark.createDataFrame(pd.DataFrame(
        {"gid": range(len(geoms)), "geom": [W.encode(g) for g in geoms]}))


def _check(spark, geoms, preds, probes, leaf: bool):
    layer = _layer(spark, geoms)
    pdf = spark.createDataFrame(pd.DataFrame({
        "pid": range(len(probes)), "lon": [p[0] for p in probes],
        "lat": [p[1] for p in probes]}))
    P = [("Point", np.array(p)) for p in probes]
    n = len(probes)
    for pred in preds:
        fn = KERNELS[pred]
        exp = {(i, gi) for i, p in enumerate(P) for gi, g in enumerate(geoms)
               if fn(p, g)}
        hit = {i for i, _ in exp}
        for how in HOWS:
            j = spatial_join(pdf, layer, pred, how, left_lonlat=("lon", "lat"),
                             res=RES)
            rows = j.collect()
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "MapInPandas" not in plan and "EvalPython" not in plan
            assert ("lambdafunction" not in plan) == leaf, (pred, how)
            case = (pred, how)
            if how == "inner":
                assert {(r["pid"], r["gid"]) for r in rows} == exp, case
            elif how == "left":
                assert len(rows) == len(exp) + n - len(hit), case
                assert {(r["pid"], r["gid"]) for r in rows} == \
                    exp | {(i, None) for i in set(range(n)) - hit}, case
            elif how == "mark":
                assert {r["pid"]: r["mark"] for r in rows} == \
                    {i: i in hit for i in range(n)}, case
            else:
                want = hit if how == "left_semi" else set(range(n)) - hit
                assert sorted(r["pid"] for r in rows) == sorted(want), case


def _leaves():
    """The leaf tables of the build side joined last."""
    return next(reversed(SJ._BUILD_SIDES.values()))[1].leaf_table(RES)


def test_leaf_refine_polygons_vs_kernels(spark):
    """Holes, a repeated vertex, a multipolygon, a concave 26-vertex
    polygon inside one coarse cell, an edge 1 ulp from a cell line and a
    box row, under intersects, coveredby and within."""
    probes = _probes(POLYS, 1)
    _check(spark, POLYS, ("intersects", "coveredby", "within"), probes,
           leaf=True)
    lv = _leaves()
    assert lv.reason is None and lv.split >= 1 and lv.counts["edge"]
    assert lv.max_edges <= LR.LEAF_EDGES and lv.max_toggles <= LR.LEAF_TOGGLES


def test_leaf_refine_lines_points_vs_kernels(spark):
    """Lines, multipoints and points among the polygons: lines and
    multipoints hold only the probes on them; a point is a box."""
    geoms = POLYS + LINES_POINTS
    _check(spark, geoms, ("intersects", "coveredby"), _probes(geoms, 2),
           leaf=True)


@pytest.mark.parametrize("geoms", [TOUCHING, BORDER],
                         ids=["touching_rings", "grid_border"])
def test_leaf_refine_fallback_vs_kernels(spark, geoms):
    """Layers the leaf refine cannot decompose keep the lambda refine,
    with the same rows as the kernels; border probes include points
    outside the world, which clamp into the border cells."""
    probes = _probes(geoms, 3) + [(180.0, 12.0), (181.0, 12.0),
                                  (200.0, 11.0), (-170.0, -91.0),
                                  (-200.0, -89.0), (179.95, 11.0)]
    _check(spark, geoms, ("intersects", "coveredby", "within"), probes,
           leaf=False)
    assert _leaves().reason is not None


@pytest.mark.parametrize("pred", ["coveredby", "intersects", "within"])
def test_world_layer_plan_is_codegen_without_lambdas(spark, pred):
    """On the 264-region world layer (256 rects and 8 metro 12-gons) with
    a lon/lat probe, the executed plan has no lambda, the cell join is a
    whole-stage-codegen BroadcastHashJoin, and the slot test sits in a
    Filter above a LeftOuter slot join, not in the cell join's
    condition."""
    regions = spark.createDataFrame(regions_grid(
        n_side=16, bounds=(-180.0, -90.0, 180.0, 90.0), metro_hotspots=8))
    rng = np.random.default_rng(4)
    xy = rng.uniform((-180.0, -90.0), (180.0, 90.0), (2000, 2))
    pts = spark.createDataFrame(pd.DataFrame(
        {"id": range(len(xy)), "lon": xy[:, 0], "lat": xy[:, 1]}))
    j = spatial_join(pts, regions, pred, left_lonlat=("lon", "lat"))
    got = {(r["id"], r["region_id"]) for r in j.collect()}
    G = [W.decode(bytes(g)) for g in regions.toPandas()["geom"]]
    fn = KERNELS[pred]
    assert got == {(i, gi) for i, p in enumerate(xy) for gi, g in enumerate(G)
                   if fn(("Point", p), g)}
    plan = j._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "lambdafunction" not in plan
    lines = final.splitlines()
    cell = [ln for ln in lines if "BroadcastHashJoin [__cell" in ln]
    assert len(cell) == 1 and cell[0].lstrip(" :+-").startswith("*(")
    assert "__lp" not in cell[0] and "__ta" not in cell[0]
    slot = [k for k, ln in enumerate(lines)
            if "BroadcastHashJoin [__slot" in ln]
    assert len(slot) == 1 and "LeftOuter" in lines[slot[0]]
    assert "Filter" in lines[slot[0] - 1] and "__lp" in lines[slot[0] - 1]
