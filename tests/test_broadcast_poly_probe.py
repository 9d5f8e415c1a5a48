"""Broadcast tier with non-point probes vs the cell join and brute force.

A probe with any non-point row goes through the one-pass broadcast tier
when the build side is small (``broadcast_threshold=200_000``), and
through the shuffle-style cell join at ``broadcast_threshold=0``.  Every
test runs both and compares each pair set with a double loop over the
same kernels (``functions.scalar.PREDICATE_KERNELS``).
"""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql.types import (BinaryType, DoubleType, LongType,
                               StructField, StructType)

from sedona_db_spark import grid
from sedona_db_spark.functions.scalar import PREDICATE_KERNELS
from sedona_db_spark.geometry import kernels as K
from sedona_db_spark.geometry import wkb as W
from sedona_db_spark.operators import spatial_join
from sedona_db_spark.operators.spatial_join import pick_join_res
from sedona_db_spark.sources import fixtures as FX

THRESHOLDS = (200_000, 0)   # broadcast tier, cell join


def _point(x, y):
    return W.points_to_wkb(np.array([x]), np.array([y]))[0]


def _poly(*rings):
    return W.encode(("Polygon", [np.asarray(r, dtype=np.float64)
                                 for r in rings]))


def _scaled_shell(g, s):
    shell = np.asarray(g[1][0], dtype=np.float64)
    c = shell[:-1].mean(axis=0)
    return _poly(c + (shell - c) * s)


def _probe_rows(B):
    """Probe geometries that hit every predicate's interesting cases:
    random polygons and lines, shrunk / enlarged / exact copies of build
    polygons, shapes touching a build polygon only at a vertex or along
    an edge, a polygon and a point inside a hole, points, a NULL."""
    geoms = list(FX.random_polygons(15, seed=99, num_vertices=(3, 8))
                 .geometry)
    geoms += list(FX.random_linestrings(8, seed=8).geometry)
    for j in range(6):
        geoms.append(_scaled_shell(B[j], 0.3))       # within / coveredby
    for j in range(6, 10):
        geoms.append(_scaled_shell(B[j], 1.6))       # contains / covers
    for j in range(10, 13):
        geoms.append(W.encode(B[j]))                  # equals
    for j in range(13, 16):
        ring = np.asarray(B[j][1][0], dtype=np.float64)
        v0, v1 = ring[0], ring[1]
        c = ring[:-1].mean(axis=0)
        away = v0 + (v0 - c)
        # vertex-only contact, then a triangle sharing the edge v0-v1
        geoms.append(_poly([v0, away, away + (0.2, 0.1), v0]))
        mid = (v0 + v1) / 2
        geoms.append(_poly([v0, v1, mid + (mid - c), v0]))
        geoms.append(_point(*v0))                     # on a vertex
    holed = [g for g in B if len(g[1]) > 1]
    for g in holed[:2]:
        hc = np.asarray(g[1][1], dtype=np.float64)[:-1].mean(axis=0)
        geoms.append(_poly([hc + (-1e-3, -1e-3), hc + (1e-3, -1e-3),
                            hc + (0.0, 1e-3), hc + (-1e-3, -1e-3)]))
        geoms.append(_point(*hc))                     # in the hole
    geoms += list(FX.random_points(6, seed=5).geometry)
    geoms.append(None)
    return geoms


@pytest.fixture(scope="module")
def scene(spark):
    bpd = FX.random_polygons(40, seed=43, num_vertices=(3, 9), hole_rate=0.5)
    B = [W.decode(bytes(b)) for b in bpd.geometry]
    probe = _probe_rows(B)
    rng = np.random.default_rng(3)
    ppd = pd.DataFrame({"id": np.arange(len(probe), dtype=np.int64),
                        "pd": rng.uniform(0.0, 1.0, len(probe)),
                        "geom": probe})
    P = [None if b is None else W.decode(bytes(b)) for b in probe]
    ldf = spark.createDataFrame(ppd, StructType([
        StructField("id", LongType()), StructField("pd", DoubleType()),
        StructField("geom", BinaryType())]))
    rdf = spark.createDataFrame(
        bpd.rename(columns={"geometry": "geom"})[["id", "dist", "geom"]])
    return ldf, rdf, P, B, ppd, bpd


def _brute(P, B, fn):
    return {(i, j) for i, p in enumerate(P) if p is not None
            for j, b in enumerate(B) if fn(p, b)}


def _pairs(df):
    return sorted((r["id"], r["id_r"]) for r in df.collect())


@pytest.mark.parametrize("pred", sorted(PREDICATE_KERNELS))
def test_every_predicate_vs_cell_path_and_brute(scene, pred):
    ldf, rdf, P, B, _, _ = scene
    kern = PREDICATE_KERNELS[pred]
    if pred == "dwithin":
        kw = {"distance": 0.4}
        exp = _brute(P, B, lambda a, b: kern(a, b, 0.4))
    else:
        kw = {}
        exp = _brute(P, B, kern)
    assert exp, "scene should produce pairs for every predicate"
    for bt in THRESHOLDS:
        got = _pairs(spatial_join(ldf, rdf, pred, broadcast_threshold=bt,
                                  **kw))
        assert len(got) == len(set(got)), (pred, bt, "duplicate pairs")
        assert set(got) == exp, (pred, bt)


@pytest.mark.parametrize("how", ["inner", "left", "right", "full",
                                 "left_semi", "left_anti", "mark"])
def test_every_join_type_vs_brute(scene, how):
    ldf, rdf, P, B, _, _ = scene
    pairs = _brute(P, B, PREDICATE_KERNELS["intersects"])
    li = {i for i, _ in pairs}
    ri = {j for _, j in pairs}
    left_ids, right_ids = set(range(len(P))), set(range(len(B)))
    exp = {
        "inner": pairs,
        "left": pairs | {(i, None) for i in left_ids - li},
        "right": pairs | {(None, j) for j in right_ids - ri},
        "full": (pairs | {(i, None) for i in left_ids - li}
                 | {(None, j) for j in right_ids - ri}),
        "left_semi": li,
        "left_anti": left_ids - li,
        "mark": {(i, i in li) for i in left_ids},
    }[how]
    exp = sorted(exp, key=repr)
    for bt in THRESHOLDS:
        rows = spatial_join(ldf, rdf, "intersects", how,
                            broadcast_threshold=bt).collect()
        if how in ("left_semi", "left_anti"):
            got = [r["id"] for r in rows]
        elif how == "mark":
            got = [(r["id"], r["mark"]) for r in rows]
        else:
            got = [(r["id"], r["id_r"]) for r in rows]
        got = sorted(got, key=repr)
        assert got == exp, (how, bt)


@pytest.mark.parametrize("side", ["literal", "build", "probe"])
def test_dwithin_distance_sources(scene, side):
    ldf, rdf, P, B, ppd, bpd = scene
    dw = PREDICATE_KERNELS["dwithin"]
    if side == "literal":
        kw = {"distance": 0.7}
        exp = _brute(P, B, lambda a, b: dw(a, b, 0.7))
    elif side == "build":
        kw = {"distance": "dist"}
        d = list(bpd["dist"])
        exp = {(i, j) for i, p in enumerate(P) if p is not None
               for j, b in enumerate(B) if dw(p, b, d[j])}
    else:
        kw = {"distance": "pd", "distance_side": "probe"}
        d = list(ppd["pd"])
        exp = {(i, j) for i, p in enumerate(P) if p is not None
               for j, b in enumerate(B) if dw(p, b, d[i])}
    for bt in THRESHOLDS:
        got = _pairs(spatial_join(ldf, rdf, "dwithin", broadcast_threshold=bt,
                                  **kw))
        assert len(got) == len(set(got)), (side, bt)
        assert set(got) == exp, (side, bt)


def test_mixed_point_first_probe(spark):
    """A probe whose first row is a point and whose later rows are
    polygons: every row is refined as what it is."""
    ldf = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2],
        "geom": [_point(0.5, 0.5),
                 _poly([(5, 5), (6, 5), (6, 6), (5, 6), (5, 5)])]}))
    rdf = spark.createDataFrame(pd.DataFrame({
        "bid": [10], "geom": [_poly([(0, 0), (10, 0), (0, 10), (0, 0)])]}))
    for bt in THRESHOLDS:
        got = sorted((r["id"], r["bid"]) for r in spatial_join(
            ldf, rdf, "intersects", broadcast_threshold=bt).collect())
        assert got == [(1, 10), (2, 10)], bt


def test_empty_and_all_null_probes(spark, scene):
    _, rdf, _, B, _, _ = scene
    schema = StructType([StructField("id", LongType()),
                         StructField("geom", BinaryType())])
    empty = spark.createDataFrame([], schema)
    nulls = spark.createDataFrame([(1, None), (2, None)], schema)
    n_b = len(B)
    for bt in THRESHOLDS:
        for how, n_empty, n_nulls in [("inner", 0, 0), ("left", 0, 2),
                                      ("right", n_b, n_b),
                                      ("full", n_b, n_b + 2),
                                      ("left_semi", 0, 0),
                                      ("left_anti", 0, 2), ("mark", 0, 2)]:
            assert spatial_join(empty, rdf, "intersects", how,
                                broadcast_threshold=bt).count() == n_empty, \
                (how, bt)
            out = spatial_join(nulls, rdf, "intersects", how,
                               broadcast_threshold=bt).collect()
            assert len(out) == n_nulls, (how, bt)
            if how == "mark":
                assert not any(r["mark"] for r in out)


def test_duplicate_probe_rows(spark, scene):
    """Value-identical probe rows are distinct rows: each keeps its own
    pairs, and each appears in semi/anti results."""
    _, rdf, P, B, ppd, _ = scene
    dup = pd.concat([ppd.iloc[:15]] * 2, ignore_index=True)
    ddf = spark.createDataFrame(dup[["id", "geom"]])
    pairs = _brute(P[:15], B, PREDICATE_KERNELS["intersects"])
    matched = {i for i, _ in pairs}
    for bt in THRESHOLDS:
        got = _pairs(spatial_join(ddf, rdf, "intersects",
                                  broadcast_threshold=bt))
        assert got == sorted(list(pairs) * 2), bt
        semi = spatial_join(ddf, rdf, "intersects", "left_semi",
                            broadcast_threshold=bt)
        assert sorted(r["id"] for r in semi.collect()) == \
            sorted(list(matched) * 2), bt


def test_probe_larger_than_the_build_cells(spark):
    """A probe polygon whose covering at the index level holds more cells
    than the level has build rows: the candidates come from a bbox scan
    over that level's rows instead of a cell lookup."""
    bpd = FX.random_polygons(30, seed=61, num_vertices=(3, 6),
                             size=(0.05, 0.2), bounds=(0.0, 0.0, 20.0, 20.0))
    B = [W.decode(bytes(b)) for b in bpd.geometry]
    big = [(-1.0, -1.0), (21.0, -1.0), (21.0, 21.0), (10.0, 12.0),
           (-1.0, 21.0), (-1.0, -1.0)]
    probe = [_poly(big), _poly([(2, 2), (3, 2), (3, 3), (2, 2)])]
    P = [W.decode(b) for b in probe]
    # the index levels the broadcast tier builds for this layer
    bbs = [K.geom_bbox(g) for g in B]
    res = pick_join_res({"w": np.mean([b[2] - b[0] for b in bbs]),
                         "h": np.mean([b[3] - b[1] for b in bbs])})
    levels = [grid.pick_covering_res(*b, max_cells=64, res_cap=res)
              for b in bbs]
    for lv in set(levels):
        assert grid.covering_count(*K.geom_bbox(P[0]), lv) > \
            levels.count(lv)
    ldf = spark.createDataFrame(pd.DataFrame({"id": [0, 1], "geom": probe}))
    rdf = spark.createDataFrame(bpd.rename(columns={"geometry": "geom"})
                                [["id", "geom"]])
    for pred in ("intersects", "contains"):
        exp = _brute(P, B, PREDICATE_KERNELS[pred])
        assert any(i == 0 for i, _ in exp)
        for bt in THRESHOLDS:
            assert set(_pairs(spatial_join(ldf, rdf, pred,
                                           broadcast_threshold=bt))) == exp


def test_polygon_probe_plan_is_one_python_pass(scene):
    ldf, rdf, _, _, _, _ = scene
    j = spatial_join(ldf, rdf, "intersects")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
