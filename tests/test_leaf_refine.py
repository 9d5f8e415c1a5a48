"""The all-JVM tier's leaf refine, differential against the numpy kernels.

Under intersects, coveredby, within and dwithin, a lon/lat probe joined
to a polygon layer takes a lambda-free refine: boundary cells are split
into finer leaves and each (leaf, build row) pair is a box test, a match
with no test, a small exact slot test or no candidate at all
(``operators/leaf_refine.py``).  The rows must equal the kernels' under
every join type, for probes on leaf corners and edges, polygon vertices
and edge midpoints, exactly a distance away from edges and vertices, and
at their ``nextafter`` neighbours; polygons in grid-border cells take the
refine too, and a layer it cannot decompose (touching rings) takes the
fused tier and must match too.
"""

import importlib
import re

import numpy as np
import pandas as pd
import pytest

from sedona_db_spark.geometry import kernels as K
from sedona_db_spark.geometry import wkb as W
from sedona_db_spark.operators import spatial_join
from sedona_db_spark.sources.fixtures import random_polygons, regions_grid

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
# coarse cells on the grid border, where probes outside the world land;
# the last polygon has an edge on the border, so leaves inside it there
BORDER = [_poly([(176, 10), (179.9, 11), (177, 14), (176, 10)]),
          _poly([(-170, -89.5), (-165, -88), (-168, -86), (-170, -89.5)]),
          _poly([(174, 20), (180, 20), (180, 26), (175, 25), (174, 20)])]


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


def _check(spark, geoms, preds, probes, tier: str = "jvm", dist=None):
    """Every join type of each predicate against the kernels, on
    ``tier``; ``dist`` is dwithin's literal distance or, as a list, a
    per-probe distance column (None for NULL)."""
    layer = _layer(spark, geoms)
    column = isinstance(dist, list)
    pdf = spark.createDataFrame(
        [(i, float(x), float(y), dist[i] if column else 0.0)
         for i, (x, y) in enumerate(probes)],
        "pid long, lon double, lat double, dist double")
    P = [("Point", np.array(p)) for p in probes]
    n = len(probes)
    for pred in preds:
        if pred == "dwithin":
            kw = ({"distance": "dist", "distance_side": "probe"} if column
                  else {"distance": dist})
            ds = dist if column else [dist] * n

            def fn(p, g, i):
                return (ds[i] is not None and not np.isnan(ds[i])
                        and K.geom_dwithin(p, g, ds[i]))
        else:
            kw = {}

            def fn(p, g, i, kern=KERNELS[pred]):
                return kern(p, g)
        exp = {(i, gi) for i, p in enumerate(P) for gi, g in enumerate(geoms)
               if fn(p, g, i)}
        hit = {i for i, _ in exp}
        for how in HOWS:
            j = spatial_join(pdf, layer, pred, how, left_lonlat=("lon", "lat"),
                             res=RES, **kw)
            rows = j.collect()
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "EvalPython" not in plan and "lambdafunction" not in plan
            assert ("MapInPandas" in plan) == (tier == "fused"), (pred, how)
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
    _check(spark, POLYS, ("intersects", "coveredby", "within"), probes)
    lv = _leaves()
    assert lv.reason is None and lv.split >= 1 and lv.counts["edge"]
    assert lv.max_edges <= LR.LEAF_EDGES and lv.max_toggles <= LR.LEAF_TOGGLES


def test_leaf_refine_lines_points_vs_kernels(spark):
    """Lines, multipoints and points among the polygons: lines and
    multipoints hold only the probes on them; a point is a box."""
    geoms = POLYS + LINES_POINTS
    _check(spark, geoms, ("intersects", "coveredby"), _probes(geoms, 2))


# probes outside the world clamp into the grid-border cells
OUTSIDE = [(180.0, 12.0), (181.0, 12.0), (200.0, 11.0), (-170.0, -91.0),
           (-200.0, -89.0), (179.95, 11.0), (181.0, 22.0), (200.0, 23.0)]


@pytest.mark.parametrize("geoms,tier", [(TOUCHING, "fused"), (BORDER, "jvm")],
                         ids=["touching_rings", "grid_border"])
def test_leaf_refine_fallback_vs_kernels(spark, geoms, tier):
    """Polygons in grid-border cells take the leaf refine, behind each
    row's bbox test there; touching rings cannot be decomposed and take
    the fused tier, with the leaf table's reason.  Both give the kernels'
    rows; border probes include points outside the world."""
    probes = _probes(geoms, 3) + OUTSIDE
    _check(spark, geoms, ("intersects", "coveredby", "within"), probes, tier)
    assert (_leaves().reason is None) == (tier == "jvm")


def _dwithin_probes(geoms, d):
    """Points exactly ``d`` from every edge (off its midpoint, both sides)
    and from every vertex (along both axes and the outward bisector),
    each with its four nextafter neighbours."""
    pts = []
    for g in geoms:
        if g[0] in ("Point", "MultiPoint"):
            rings = [np.asarray(g[1]).reshape(-1, 2)]
        elif g[0] == "LineString":
            rings = [g[1]]
        else:
            parts = [g[1]] if g[0] == "Polygon" else g[1]
            rings = [r for rs in parts for r in rs]
        for ring in rings:
            ring = np.asarray(ring, dtype=np.float64)
            for k, (ax, ay) in enumerate(ring):
                bx, by = ring[(k + 1) % len(ring)]
                cx, cy = ring[k - 1]
                for ux, uy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    pts += _around(ax + ux * d, ay + uy * d)
                u = np.array([ax - bx, ay - by]), np.array([ax - cx, ay - cy])
                u = sum(v / (np.hypot(*v) or 1.0) for v in u)
                if np.hypot(*u):
                    pts += _around(*(np.array([ax, ay]) + d * u / np.hypot(*u)))
                L = np.hypot(bx - ax, by - ay)
                if L:
                    nx, ny = (by - ay) / L, (ax - bx) / L
                    mx, my = (ax + bx) / 2, (ay + by) / 2
                    pts += _around(mx + d * nx, my + d * ny)
                    pts += _around(mx - d * nx, my - d * ny)
    return sorted(set((float(x), float(y)) for x, y in pts))


@pytest.mark.parametrize("distance", ["literal", "column"])
def test_leaf_refine_dwithin_vs_kernels(spark, distance):
    """dwithin on leaves, literal and per-probe: polygons (a hole, a
    multipolygon, a concave comb, a box), a line, a multipoint and a
    point, and polygons in grid-border cells, with probes exactly d from
    edges and vertices and their nextafter neighbours, inside and
    outside the world; the column holds NaN, NULL and negative
    distances too."""
    # near the border, the padded bboxes stay inside the world
    for geoms, d in ((POLYS + LINES_POINTS, 0.3), (BORDER[:2], 0.04)):
        probes = (_dwithin_probes(geoms, d) + _probes(geoms, 4)[::3]
                  + OUTSIDE)
        dist = d
        if distance == "column":
            rng = np.random.default_rng(5)
            dist = [d if k % 2 else float(v) for k, v in
                    enumerate(rng.uniform(0.0, 2 * d, len(probes)))]
            for k in range(0, len(probes), 9):
                dist[k] = float("nan")
            for k in range(3, len(probes), 11):
                dist[k] = None
            for k in range(6, len(probes), 13):
                dist[k] = -d
        _check(spark, geoms, ("dwithin",), probes, dist=dist)


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


@pytest.mark.parametrize("distance", [None, 0.75, "pdist"])
def test_wide_slots_fit_the_jit(spark, distance):
    """The 100-polygon random layer (holes, 3-10 vertices) fits no 2-edge
    leaf level under intersects or a 0-2 probe distance, so it takes the
    wide slots.  The slot join stays in whole-stage codegen and every
    generated method of the join's stage under HotSpot's 8000-byte
    limit, past which the JIT leaves it interpreted and the fused tier
    is faster."""
    from pyspark.sql import functions as F
    layer = spark.createDataFrame(random_polygons(
        100, seed=43, num_vertices=(3, 10), hole_rate=0.5))
    probes = spark.range(1000).select(
        F.col("id").alias("pid"), (F.rand(1) * 22 - 11).alias("lon"),
        (F.rand(2) * 22 - 11).alias("lat"), (F.rand(3) * 2).alias("pdist"))
    pred, kw = "dwithin", {"distance": distance}
    if distance is None:
        pred, kw = "intersects", {}
    elif distance == "pdist":
        kw["distance_side"] = "probe"
    j = spatial_join(probes, layer, pred, left_lonlat=("lon", "lat"),
                     right_geom="geometry", **kw).groupBy("id").count()
    j.collect()
    side = next(reversed(SJ._BUILD_SIDES.values()))[1]
    lv = [v for k, (v, _) in side.derived.items() if k[0] == "leaves"][-1]
    assert lv.reason is None
    assert (lv.max_edges > LR.LEAF_EDGES) == (distance != 0.75)
    # the slot join and its test run in whole-stage codegen
    plan = j._jdf.queryExecution().executedPlan().toString()
    slot = [ln for ln in plan.split("== Initial Plan ==")[0].splitlines()
            if "BroadcastHashJoin [__slot" in ln]
    assert slot and all(ln.lstrip(" :+-").startswith("*(") for ln in slot)
    code = j.sparkSession._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "codegen")
    assert "MapInPandas" not in code and "lambdafunction" not in code
    sizes = [int(v) for v in re.findall(r"maxMethodCodeSize:(\d+)", code)]
    assert sizes and max(sizes) < 8000, sizes
