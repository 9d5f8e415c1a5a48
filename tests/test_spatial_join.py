"""Spatial join differential tests vs a brute-force kernel oracle.

Mirrors the reference's dominant test strategy (SURVEY.md §5.2): same
predicate evaluated through the distributed two-phase join and through a
direct double loop over the same WKB fixtures; joined row *sets* must match
exactly (the north rule's "exact match on join output rows").
Fixture shapes mirror test_sjoin.py:46-49 (100 points seed 42 ×
100 polygons seed 43, hole_rate 0.5).
"""

import numpy as np
import pytest

from pyspark.sql import functions as F

from sedona_db_spark.geometry import kernels as K
from sedona_db_spark.geometry import wkb as W
from sedona_db_spark.operators import spatial_join
from sedona_db_spark.sources import fixtures as FX

N_PTS, N_POLY = 100, 100


@pytest.fixture(scope="module")
def data(spark):
    pts = FX.random_points(N_PTS, seed=42)
    pls = FX.random_polygons(N_POLY, seed=43, num_vertices=(3, 10), hole_rate=0.5)
    pdf = spark.createDataFrame(pts).withColumnRenamed("geometry", "geom")
    gdf = spark.createDataFrame(pls).withColumnRenamed("geometry", "geom")
    P = [W.decode(bytes(b)) for b in pts.geometry]
    G = [W.decode(bytes(b)) for b in pls.geometry]
    return pdf, gdf, P, G


def brute(P, G, fn):
    return {(i, j) for i, p in enumerate(P) for j, g in enumerate(G) if fn(p, g)}


@pytest.mark.parametrize("pred,fn", [
    ("intersects", K.geom_intersects),
    ("within", K.geom_within),
    ("coveredby", K.geom_covered_by),
])
def test_point_poly_inner(data, pred, fn):
    pdf, gdf, P, G = data
    got = {(r["id"], r["id_r"]) for r in spatial_join(pdf, gdf, pred).collect()}
    assert got == brute(P, G, fn)


def test_contains_direction(data, spark):
    pdf, gdf, P, G = data
    # polygons contain points: left=polygons
    got = {(r["id"], r["id_r"]) for r in
           spatial_join(gdf, pdf, "contains").collect()}
    exp = {(j, i) for (i, j) in brute(P, G, lambda p, g: K.geom_contains(g, p))}
    assert got == exp


def test_dwithin_column_distance(data):
    """distance as a right-side column: each polygon row's own radius
    (reference distance_side=build, spatial_predicate.rs:44-110)."""
    pdf, gdf, P, G = data
    # gdf has a 'dist' column in [0, 2)
    dists = {r["id"]: r["dist"] for r in gdf.select("id", "dist").collect()}
    exp = {(i, j) for i, p in enumerate(P) for j, g in enumerate(G)
           if K.geom_dwithin(p, g, dists[j])}
    for bt in (200_000, 0):  # broadcast and shuffle paths
        got = {(r["id"], r["id_r"]) for r in spatial_join(
            pdf, gdf, "dwithin", distance="dist",
            broadcast_threshold=bt).collect()}
        assert got == exp, f"broadcast_threshold={bt}"


def test_dwithin_literal(data):
    pdf, gdf, P, G = data
    got = {(r["id"], r["id_r"]) for r in
           spatial_join(pdf, gdf, "dwithin", distance=0.8).collect()}
    assert got == brute(P, G, lambda p, g: K.geom_dwithin(p, g, 0.8))


def test_join_types(data):
    pdf, gdf, P, G = data
    exp_pairs = brute(P, G, K.geom_intersects)
    exp_ids = {i for i, _ in exp_pairs}
    semi = {r["id"] for r in spatial_join(pdf, gdf, "intersects", "left_semi").collect()}
    anti = {r["id"] for r in spatial_join(pdf, gdf, "intersects", "left_anti").collect()}
    assert semi == exp_ids
    assert anti == set(range(N_PTS)) - exp_ids
    left = spatial_join(pdf, gdf, "intersects", "left").collect()
    assert len(left) == len(exp_pairs) + (N_PTS - len(exp_ids))
    null_rows = [r for r in left if r["id_r"] is None]
    assert {r["id"] for r in null_rows} == set(range(N_PTS)) - exp_ids
    right = spatial_join(pdf, gdf, "intersects", "right").collect()
    exp_right_ids = {j for _, j in exp_pairs}
    assert len(right) == len(exp_pairs) + (N_POLY - len(exp_right_ids))


def test_poly_poly_exploded_dedup(data, spark):
    _, gdf, _, G = data
    g2 = FX.random_polygons(60, seed=99, num_vertices=(3, 8))
    g2df = spark.createDataFrame(g2).withColumnRenamed("geometry", "geom")
    G2 = [W.decode(bytes(b)) for b in g2.geometry]
    exp = {(i, j) for i, a in enumerate(G2)
           for j, b in enumerate(G) if K.geom_intersects(a, b)}
    # broadcast tier and the cell path's min-common-cell dedup
    for bt in (200_000, 0):
        rows = spatial_join(g2df, gdf, "intersects",
                            broadcast_threshold=bt).collect()
        got = [(r["id"], r["id_r"]) for r in rows]
        assert len(got) == len(set(got)), f"duplicate pairs at {bt}"
        assert set(got) == exp, f"broadcast_threshold={bt}"


def test_dwithin_exploded_left(data, spark):
    """dwithin with a NON-point (exploded) left side: padded right covers
    vs unpadded left covers — regression for the min-common-cell dedup."""
    _, gdf, _, G = data
    g2 = FX.random_polygons(40, seed=77, num_vertices=(3, 7))
    g2df = spark.createDataFrame(g2).withColumnRenamed("geometry", "geom")
    G2 = [W.decode(bytes(b)) for b in g2.geometry]
    d = 1.3
    exp = {(i, j) for i, a in enumerate(G2) for j, b in enumerate(G)
           if K.geom_dwithin(a, b, d)}
    for bt in (200_000, 0):
        got_rows = spatial_join(g2df, gdf, "dwithin", distance=d,
                                broadcast_threshold=bt).collect()
        got = [(r["id"], r["id_r"]) for r in got_rows]
        assert len(got) == len(set(got)), f"duplicate pairs at {bt}"
        assert set(got) == exp, f"broadcast_threshold={bt}"


def test_salting_preserves_result(data):
    pdf, gdf, P, G = data
    base = brute(P, G, K.geom_intersects)
    got = {(r["id"], r["id_r"]) for r in
           spatial_join(pdf, gdf, "intersects", salt=4).collect()}
    assert got == base


def test_auto_salt_on_skewed_data(spark):
    """Hot-cell adaptive salting must not change the result on a metro-skewed
    point distribution (40% of points in 8 hot spots)."""
    import pandas as pd
    from sedona_db_spark.sources.fixtures import regions_grid
    rng = __import__("numpy").random.default_rng(3)
    import numpy as np
    n = 5000
    hot = rng.integers(0, 2, n).astype(bool)
    x = np.where(hot, -74.0 + rng.normal(0, 0.05, n), rng.uniform(-120, -60, n))
    y = np.where(hot, 40.7 + rng.normal(0, 0.05, n), rng.uniform(20, 50, n))
    pts = spark.createDataFrame(pd.DataFrame({
        "id": np.arange(n), "geom": W.points_to_wkb(x, y)}))
    polys = spark.createDataFrame(
        FX.random_polygons(50, seed=11, bounds=(-120, 20, -60, 50),
                           size=(1.0, 5.0))).withColumnRenamed("geometry", "geom")
    base = {(r["id"], r["id_r"]) for r in
            spatial_join(pts, polys, "intersects",
                         broadcast_threshold=0).collect()}
    salted = {(r["id"], r["id_r"]) for r in
              spatial_join(pts, polys, "intersects", broadcast_threshold=0,
                           salt="auto").collect()}
    assert salted == base and len(base) > 0


def test_forced_resolution(data):
    pdf, gdf, P, G = data
    base = brute(P, G, K.geom_intersects)
    for res in (3, 7):
        got = {(r["id"], r["id_r"]) for r in
               spatial_join(pdf, gdf, "intersects", res=res).collect()}
        assert got == base, f"res={res}"


def test_no_broadcast_path(data):
    pdf, gdf, P, G = data
    got = {(r["id"], r["id_r"]) for r in
           spatial_join(pdf, gdf, "intersects", broadcast_threshold=0).collect()}
    assert got == brute(P, G, K.geom_intersects)


def test_left_lonlat_parity(data, spark):
    pdf, gdf, P, G = data
    from sedona_db_spark.geometry import wkb as WW
    import pandas as pd
    xs = [p[1][0] for p in P]
    ys = [p[1][1] for p in P]
    lonlat = spark.createDataFrame(pd.DataFrame({
        "id": range(len(P)), "lon": xs, "lat": ys}))
    from sedona_db_spark.functions.scalar import st_point
    from pyspark.sql import functions as F
    lonlat = lonlat.withColumn("geom", st_point(F.col("lon"), F.col("lat")))
    base = brute(P, G, K.geom_intersects)
    for bt in (200_000, 0):  # broadcast and shuffle paths
        got = {(r["id"], r["id_r"]) for r in spatial_join(
            lonlat, gdf, "intersects", left_lonlat=("lon", "lat"),
            broadcast_threshold=bt).collect()}
        assert got == base, f"broadcast_threshold={bt}"


def test_rect_jvm_fast_path(data, spark):
    """Axis-aligned dimension layer → all-JVM interval join; results must
    equal the python-kernel path exactly."""
    import pandas as pd
    from sedona_db_spark.sources.fixtures import regions_grid
    pdf, _, P, _ = data
    rects = spark.createDataFrame(
        regions_grid(n_side=6, bounds=(-10.0, -10.0, 10.0, 10.0),
                     metro_hotspots=0))
    R = {r["region_id"]: W.decode(bytes(r["geom"])) for r in rects.collect()}
    for pred, extra in (("coveredby", {}), ("within", {}),
                        ("dwithin", {"distance": 1.5})):
        j = spatial_join(pdf, rects, pred, right_geom="geom",
                         left_geom="geom", **extra)
        plan = j._jdf.queryExecution().toString()
        assert "MapInPandas" not in plan, f"{pred} should be JVM-only"
        got = {(r["id"], r["region_id"]) for r in j.collect()}
        if pred == "coveredby":
            fn = lambda p, g: K.geom_covered_by(p, g)
        elif pred == "within":
            fn = lambda p, g: K.geom_within(p, g)
        else:
            fn = lambda p, g: K.geom_dwithin(p, g, 1.5)
        exp = {(i, rid) for i, p in enumerate(P) for rid, g in R.items()
               if fn(p, g)}
        assert got == exp, pred


def test_plan_shapes(data):
    pdf, gdf, _, _ = data
    # broadcast path, WKB probe: fused one-pass mapInPandas (decode +
    # refine, emits matches only) + broadcast payload join on __ridx —
    # measured A/B faster than extracting coordinates through
    # ArrowEvalPython for the JVM HOF refine
    plan = spatial_join(pdf, gdf, "intersects")._jdf.queryExecution().toString()
    assert "__ridx" in plan and "MapInPandas" in plan
    # shuffle path: phase-1 equi join on the __cell key
    plan2 = spatial_join(pdf, gdf, "intersects",
                         broadcast_threshold=0)._jdf.queryExecution().toString()
    assert "__cell" in plan2


def test_jvm_dwithin_and_line_point_layers(data, spark):
    """The JVM HOF path (lon/lat probes) also serves dwithin
    (clamp-projection segment distance) and line/point build layers
    (on-edge / exact equality); all differential vs the numpy kernels,
    with zero Python operators in the plan."""
    import pandas as pd
    pdf, gdf, P, G = data
    xs = np.array([p[1][0] for p in P])
    ys = np.array([p[1][1] for p in P])
    dvals = [float(r["dist"]) for r in pdf.select("id", "dist")
             .orderBy("id").collect()]
    ll = spark.createDataFrame(pd.DataFrame(
        {"id": range(len(P)), "lon": xs, "lat": ys, "dist": dvals}))
    kw_ll = {"left_lonlat": ("lon", "lat")}

    def no_python(df):
        plan = df._jdf.queryExecution().toString()
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan

    # dwithin literal → JVM path
    j = spatial_join(ll, gdf, "dwithin", distance=0.8, **kw_ll)
    no_python(j)
    got = {(r["id"], r["id_r"]) for r in j.collect()}
    assert got == brute(P, G, lambda p, g: K.geom_dwithin(p, g, 0.8))
    # probe-side column distance → JVM path
    j2 = spatial_join(ll, gdf, "dwithin", distance="dist",
                      distance_side="probe", **kw_ll)
    no_python(j2)
    got2 = {(r["id"], r["id_r"]) for r in j2.collect()}
    assert got2 == {(i, j_) for i, p in enumerate(P) for j_, g in enumerate(G)
                    if K.geom_dwithin(p, g, dvals[i])}
    # linestring build layer: intersects (on-edge) + dwithin
    lines = FX.random_linestrings(30, seed=9)
    ldf = spark.createDataFrame(lines).withColumnRenamed("geometry", "geom")
    L = [W.decode(bytes(b)) for b in lines.geometry]
    for pred, fn in (("intersects", K.geom_intersects),
                     ("dwithin", lambda a, b: K.geom_dwithin(a, b, 1.1))):
        kw = dict(kw_ll, distance=1.1) if pred == "dwithin" else kw_ll
        jj = spatial_join(ll, ldf, pred, **kw)
        no_python(jj)
        gotl = {(r["id"], r["id_r"]) for r in jj.collect()}
        assert gotl == brute(P, L, fn), pred
    # point build layer: dwithin degenerates to point distance
    tgt = FX.random_points(40, seed=11)
    tdf = (spark.createDataFrame(tgt).withColumnRenamed("geometry", "geom")
           .withColumnRenamed("id", "tid").drop("dist"))
    T = [W.decode(bytes(b)) for b in tgt.geometry]
    jp = spatial_join(ll, tdf, "dwithin", distance=2.5, **kw_ll)
    no_python(jp)
    gotp = {(r["id"], r["tid"]) for r in jp.collect()}
    assert gotp == brute(P, T, lambda a, b: K.geom_dwithin(a, b, 2.5))
    # WKB probes keep the fused mapInPandas path (measured faster there)
    jw = spatial_join(pdf, gdf, "dwithin", distance=0.8)
    assert "MapInPandas" in jw._jdf.queryExecution().toString()
    assert {(r["id"], r["id_r"]) for r in jw.collect()} == got


def test_poly_jvm_join_lonlat_no_python(data, spark):
    """lon/lat probe × low-vertex polygon layer: the ENTIRE join plan is
    JVM (cell expr + HOF crossing-number refine + broadcast payload join) —
    zero Python operators of any kind."""
    import pandas as pd
    _, gdf, P, G = data
    pts = FX.random_points(200, seed=7)
    xs, ys = W.wkb_to_points(pts.geometry)
    ldf = spark.createDataFrame(pd.DataFrame(
        {"pid": pts.id, "lon": xs, "lat": ys}))
    j = spatial_join(ldf, gdf, "intersects", left_lonlat=("lon", "lat"))
    plan = j._jdf.queryExecution().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    got = {(r["pid"], r["id"]) for r in j.collect()}
    exp = {(i, rid) for i, (x, y) in enumerate(zip(xs, ys))
           for rid, g in enumerate(G)
           if K.points_in_geom(np.array([x]), np.array([y]), g)[0]}
    assert got == exp


def test_full_and_mark_join_types(data):
    pdf, gdf, P, G = data
    exp_pairs = brute(P, G, K.geom_intersects)
    lids = {i for i, _ in exp_pairs}
    rids = {j for _, j in exp_pairs}
    full = spatial_join(pdf, gdf, "intersects", "full").collect()
    assert len(full) == (len(exp_pairs) + (N_PTS - len(lids))
                         + (N_POLY - len(rids)))
    assert {r["id_r"] for r in full if r["id"] is None} == set(range(N_POLY)) - rids
    assert {r["id"] for r in full if r["id_r"] is None} == set(range(N_PTS)) - lids
    mark = spatial_join(pdf, gdf, "intersects", "mark").collect()
    assert len(mark) == N_PTS
    assert {r["id"] for r in mark if r["mark"]} == lids


def test_join_types_null_safe(spark):
    """Regression (round-1 ADVICE high): matched left rows with a NULL in a
    payload column must classify as matched in left/semi/anti/mark."""
    import pandas as pd
    pts = FX.random_points(30, seed=42)
    pdf_pd = pd.DataFrame({"id": pts.id, "geom": pts.geometry,
                           "tag": [None if i % 3 == 0 else f"t{i}"
                                   for i in range(30)]})
    pls = FX.random_polygons(20, seed=43, num_vertices=(3, 8))
    spdf = spark.createDataFrame(pdf_pd)
    gdf = spark.createDataFrame(pls).withColumnRenamed("geometry", "geom")
    P = [W.decode(bytes(b)) for b in pts.geometry]
    G = [W.decode(bytes(b)) for b in pls.geometry]
    exp = brute(P, G, K.geom_intersects)
    lids = {i for i, _ in exp}
    semi = {r["id"] for r in spatial_join(spdf, gdf, "intersects", "left_semi").collect()}
    anti = {r["id"] for r in spatial_join(spdf, gdf, "intersects", "left_anti").collect()}
    assert semi == lids and anti == set(range(30)) - lids
    left = spatial_join(spdf, gdf, "intersects", "left").collect()
    assert len(left) == len(exp) + (30 - len(lids))
    matched_null_tag = [r for r in left if r["tag"] is None and r["id"] in lids]
    assert all(r["id_r"] is not None for r in matched_null_tag), \
        "null-payload matched rows must not reappear as unmatched"
    mark = {r["id"]: r["mark"] for r in
            spatial_join(spdf, gdf, "intersects", "mark").collect()}
    assert {i for i, m in mark.items() if m} == lids


@pytest.mark.parametrize("pred,fn", [
    ("touches", "st_touches"),
    ("crosses", "st_crosses"),
    ("overlaps", "st_overlaps"),
])
def test_relation_predicates_vs_brute(spark, pred, fn):
    """touches/crosses/overlaps joins vs brute-force DE-9IM relate oracle."""
    from sedona_db_spark.geometry import relate as R
    pls_a = FX.random_polygons(40, seed=7, num_vertices=(3, 7))
    lines = FX.random_linestrings(40, seed=8)
    adf = spark.createDataFrame(pls_a).withColumnRenamed("geometry", "geom")
    ldf = spark.createDataFrame(lines).withColumnRenamed("geometry", "geom")
    A = [W.decode(bytes(b)) for b in pls_a.geometry]
    L = [W.decode(bytes(b)) for b in lines.geometry]
    kern = {"touches": K.geom_touches, "crosses": K.geom_crosses,
            "overlaps": K.geom_overlaps}[pred]
    exp = {(i, j) for i, a in enumerate(A) for j, b in enumerate(L)
           if kern(a, b)}
    for bt in (200_000, 0):
        got = {(r["id"], r["id_r"]) for r in
               spatial_join(adf, ldf, pred, broadcast_threshold=bt).collect()}
        assert got == exp, f"broadcast_threshold={bt}"


def test_relate_pattern_join(spark):
    from sedona_db_spark.geometry import relate as R
    pls_a = FX.random_polygons(30, seed=11, num_vertices=(3, 7))
    pls_b = FX.random_polygons(30, seed=12, num_vertices=(3, 7))
    adf = spark.createDataFrame(pls_a).withColumnRenamed("geometry", "geom")
    bdf = spark.createDataFrame(pls_b).withColumnRenamed("geometry", "geom")
    A = [W.decode(bytes(b)) for b in pls_a.geometry]
    B = [W.decode(bytes(b)) for b in pls_b.geometry]
    pat = "T********"  # interiors intersect
    exp = {(i, j) for i, a in enumerate(A) for j, b in enumerate(B)
           if R.relate_pattern(a, b, pat)}
    got = {(r["id"], r["id_r"]) for r in
           spatial_join(adf, bdf, "relate", pattern=pat).collect()}
    assert got == exp
    with pytest.raises(ValueError):
        spatial_join(adf, bdf, "relate", pattern="FF*FF****")


def test_inner_duplicate_rows_not_collapsed(spark):
    """Regression (round-1 ADVICE medium): two identical left rows in the
    padded exploded-left dwithin path must yield two output pairs."""
    import pandas as pd
    pls = FX.random_polygons(10, seed=21, num_vertices=(3, 6))
    dup = pd.concat([pls.iloc[:3]] * 2, ignore_index=True)  # value-identical
    dupdf = spark.createDataFrame(
        pd.DataFrame({"geom": dup.geometry}))  # no id col: rows identical
    gdf = spark.createDataFrame(pls).withColumnRenamed("geometry", "geom")
    G = [W.decode(bytes(b)) for b in pls.geometry]
    D = [W.decode(bytes(b)) for b in dup.geometry]
    d = 0.9
    exp = sum(1 for a in D for b in G if K.geom_dwithin(a, b, d))
    for bt in (200_000, 0):
        got = spatial_join(dupdf, gdf, "dwithin", distance=d,
                           broadcast_threshold=bt).count()
        assert got == exp, f"broadcast_threshold={bt}"


def test_dwithin_sphere_vs_haversine_brute(spark):
    """Spherical distance join vs brute-force haversine, broadcast AND
    shuffled paths; antimeridian + near-pole cities included."""
    import pandas as pd
    from sedona_db_spark.geometry.algos import haversine_m
    
    rng = np.random.default_rng(42)
    px = rng.uniform(-180, 180, 300)
    py = rng.uniform(-85, 85, 300)
    pts = pd.DataFrame({"id": range(300), "geom": [
        W.encode(("Point", np.array([x, y]))) for x, y in zip(px, py)]})
    cities = [(179.5, 10.0), (-179.8, 12.0), (0.0, 89.2), (5.0, -88.9),
              (2.35, 48.85), (-74.0, 40.7), (151.2, -33.9)]
    cdf_pd = pd.DataFrame({
        "city_id": range(len(cities)),
        "geom": [W.encode(W.from_wkt(f"POINT ({x} {y})")) for x, y in cities]})
    pdf = spark.createDataFrame(pts)
    cdf = spark.createDataFrame(cdf_pd)
    D = 1_500_000.0  # 1500 km
    exp = set()
    for j, (cx, cy) in enumerate(cities):
        m = haversine_m(px, py, np.full(len(px), cx), np.full(len(px), cy)) <= D
        exp |= {(int(i), j) for i in np.flatnonzero(m)}
    assert exp, "fixture must produce pairs"
    for bt in (200_000, 0):  # broadcast fast path vs generic shuffle path
        got = {(r["id"], r["city_id"]) for r in spatial_join(
            pdf, cdf, "dwithin_sphere", distance=D,
            broadcast_threshold=bt).collect()}
        assert got == exp, f"path bt={bt}"
    # antimeridian coverage: a point 0.4 deg across the seam must match
    near_seam = spark.createDataFrame(
        pd.DataFrame({"id": [0], "geom": [W.encode(W.from_wkt("POINT (-179.9 10.0)"))]}))
    j = spatial_join(near_seam, cdf, "dwithin_sphere", distance=100_000.0)
    assert {r["city_id"] for r in j.collect()} == {0}


def test_dwithin_sphere_accepts_non_points(spark, data):
    """round 3: the sphere join takes any build geometry (was a
    NotImplementedError guard in round 2); result matches the brute
    spherical distance (tests/test_sphere.py covers the full matrix)."""
    from sedona_db_spark.geometry import sphere as SPH
    pdf, gdf, P, G = data
    D = 300_000.0
    got = {(r["id"], r["id_r"]) for r in spatial_join(
        pdf, gdf, "dwithin_sphere", distance=D).collect()}
    exp = {(i, j) for i, p in enumerate(P) for j, g in enumerate(G)
           if SPH.geog_distance_m(p, g) <= D}
    assert got == exp


def test_dwithin_probe_side_distance(spark, data):
    """distance_side='probe': each LEFT row carries its own radius
    (reference spatial_predicate.rs:44-110). Broadcast + shuffled paths."""
    import pandas as pd
    _, gdf, _, G = data
    rng = np.random.default_rng(17)
    px = rng.uniform(-10, 10, 60)
    py = rng.uniform(-10, 10, 60)
    pd_rad = rng.uniform(0.1, 2.5, 60)
    pdf = spark.createDataFrame(pd.DataFrame({
        "id": range(60),
        "geom": [W.encode(("Point", np.array([x, y]))) for x, y in zip(px, py)],
        "radius": pd_rad}))
    P = [("Point", np.array([x, y])) for x, y in zip(px, py)]
    exp = {(i, j) for i, p in enumerate(P) for j, g in enumerate(G)
           if K.geom_dwithin(p, g, pd_rad[i])}
    for bt in (200_000, 0):
        got = {(r["id"], r["id_r"]) for r in spatial_join(
            pdf, gdf, "dwithin", distance="radius", distance_side="probe",
            broadcast_threshold=bt).collect()}
        assert got == exp, f"path bt={bt}"
    with pytest.raises(ValueError):
        spatial_join(gdf, pdf, "dwithin", distance="radius",
                     distance_side="probe")  # radius not on the left side


def test_rect_path_join_types(spark):
    """mark/semi/anti/left on the all-JVM rect path (zero Python, no
    finisher shuffle) vs interval brute force."""
    import pandas as pd
    rng = np.random.default_rng(23)
    lon = rng.uniform(-10, 10, 200)
    lat = rng.uniform(-10, 10, 200)
    pdf = spark.createDataFrame(pd.DataFrame({
        "id": range(200),
        "geom": [W.encode(("Point", np.array([x, y])))
                 for x, y in zip(lon, lat)]}))
    rects = [(k, -10.0 + k * 3.0, -5.0, -10.0 + k * 3.0 + 4.0, 5.0)
             for k in range(5)]
    rdf = spark.createDataFrame(
        pd.DataFrame([(k, W.encode(("Polygon", [np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])])))
            for k, x0, y0, x1, y1 in rects], columns=["rid", "geom"]))
    exp_pairs = {(i, k) for i in range(200) for k, x0, y0, x1, y1 in rects
                 if x0 <= lon[i] <= x1 and y0 <= lat[i] <= y1}
    matched_ids = {i for i, _ in exp_pairs}
    semi = {r["id"] for r in spatial_join(pdf, rdf, "coveredby", "left_semi").collect()}
    anti = {r["id"] for r in spatial_join(pdf, rdf, "coveredby", "left_anti").collect()}
    mark = {r["id"]: r["mark"] for r in
            spatial_join(pdf, rdf, "coveredby", "mark").collect()}
    left = spatial_join(pdf, rdf, "coveredby", "left").collect()
    assert semi == matched_ids
    assert anti == set(range(200)) - matched_ids
    assert len(mark) == 200 and {i for i, m in mark.items() if m} == matched_ids
    assert len(left) == len(exp_pairs) + (200 - len(matched_ids))
    assert {(r["id"], r["rid"]) for r in left if r["rid"] is not None} == exp_pairs
    # plan shape: no python eval anywhere for semi on the rect path
    plan = spatial_join(pdf, rdf, "coveredby", "left_semi") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan


def test_broadcast_path_join_types_one_pass(data):
    """mark/semi/anti on the general broadcast path resolve inside the
    single mapInPandas pass — no value-keyed finisher join in the plan."""
    pdf, gdf, P, G = data
    exp = brute(P, G, K.geom_intersects)
    lids = {i for i, _ in exp}
    mark = spatial_join(pdf, gdf, "intersects", "mark")
    plan = mark._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "__k_" not in plan
    got = {r["id"]: r["mark"] for r in mark.collect()}
    assert {i for i, m in got.items() if m} == lids
    semi = spatial_join(pdf, gdf, "intersects", "left_semi")
    assert "__k_" not in semi._jdf.queryExecution().executedPlan().toString()
    assert {r["id"] for r in semi.collect()} == lids


def test_jvm_refine_exact_boundary_parity(spark):
    """Adversarial probes for the JVM HOF refine: points EXACTLY on
    polygon vertices, edge midpoints, hole edges, and just inside/outside —
    the SQL arithmetic must agree with the numpy kernel bit-for-bit."""
    import pandas as pd

    ring = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]
    hole = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0)]
    tri = [(20.0, 0.0), (30.0, 0.0), (25.0, 7.0), (20.0, 0.0)]
    polys = [("Polygon", [np.asarray(ring), np.asarray(hole)]),
             ("Polygon", [np.asarray(tri)])]
    gdf = spark.createDataFrame(pd.DataFrame({
        "gid": [0, 1], "geom": [W.encode(g) for g in polys]}))

    probes = [
        (0.0, 0.0), (10.0, 10.0), (5.0, 0.0), (0.0, 5.0),     # shell vertex/edge
        (4.0, 4.0), (5.0, 4.0), (4.0, 5.0),                   # hole vertex/edge
        (5.0, 5.0),                                           # inside hole
        (2.0, 2.0), (9.999999, 9.999999),                     # interior
        (10.000001, 5.0), (-1e-9, 5.0),                       # just outside
        (25.0, 7.0), (22.5, 3.5), (25.0, 3.0),                # tri vertex/edge/in
        (25.0, 7.0000001), (20.0, 7.0),                       # just out
    ]
    pdf = spark.createDataFrame(pd.DataFrame({
        "pid": range(len(probes)),
        "lon": [p[0] for p in probes],
        "lat": [p[1] for p in probes],
    }))
    P = [("Point", np.array(p)) for p in probes]
    for pred, fn in (
            ("intersects", K.geom_intersects),
            ("within", K.geom_within),
            ("dwithin", lambda a, b: K.geom_dwithin(a, b, 1.5))):
        kw = {"distance": 1.5} if pred == "dwithin" else {}
        j = spatial_join(pdf, gdf, pred, left_lonlat=("lon", "lat"), **kw)
        assert "MapInPandas" not in j._jdf.queryExecution().toString(), pred
        got = {(r["pid"], r["gid"]) for r in j.collect()}
        exp = {(i, gi) for i, p in enumerate(P) for gi, g in enumerate(polys)
               if fn(p, g)}
        assert got == exp, pred


def test_adaptive_covering_mixed_size_layer(spark):
    """North-rule adaptive cell splitting: a layer mixing a world-spanning
    polygon with small parcels — the giant geometry must cover at a
    coarser level (bounded fanout) while results stay exact on BOTH the
    broadcast and shuffle paths."""
    import numpy as np
    from sedona_db_spark.geometry import wkb as W
    from sedona_db_spark.geometry import kernels as K
    from sedona_db_spark.operators.spatial_join import (
        _covering_cells_adaptive_udf)

    rng = np.random.default_rng(12)
    polys = []
    # giant: covers most of the world
    giant = np.array([[-170.0, -80.0], [170.0, -80.0], [170.0, 80.0],
                      [-170.0, 80.0], [-170.0, -80.0]])
    polys.append((0, W.encode(("Polygon", [giant]))))
    for i in range(1, 30):
        cx, cy = rng.uniform(-160, 160), rng.uniform(-70, 70)
        w, h = rng.uniform(0.5, 3.0, 2)
        ring = np.array([[cx, cy], [cx + w, cy], [cx + w, cy + h],
                         [cx, cy + h], [cx, cy]])
        polys.append((i, W.encode(("Polygon", [ring]))))
    pts = [(i, W.encode(("Point", np.array(
        [rng.uniform(-175, 175), rng.uniform(-85, 85)]))))
        for i in range(400)]

    from pyspark.sql.types import (BinaryType, LongType, StructField,
                                   StructType)
    sch = StructType([StructField("id", LongType()),
                      StructField("geom", BinaryType())])
    pdf = spark.createDataFrame([(i, bytes(b)) for i, b in pts], sch)
    gdf = spark.createDataFrame([(i, bytes(b)) for i, b in polys], sch)

    # fanout bound: at a fine res the giant's adaptive covering is <= 64
    cov = gdf.select(_covering_cells_adaptive_udf(10)(F.col("geom"))
                     .alias("c")).collect()
    sizes = [len(r["c"]) for r in cov]
    assert max(sizes) <= 64  # fanout bounded for EVERY geometry
    # the giant geometry sits at a strictly coarser level than the parcels
    lvl = [r["c"][0] >> 58 for r in cov]
    assert lvl[0] < min(lvl[1:])

    brute = set()
    pg = {i: W.decode(bytes(b)) for i, b in pts}
    gg = {i: W.decode(bytes(b)) for i, b in polys}
    for pi, p in pg.items():
        for gi, g2 in gg.items():
            if K.points_in_geom(np.array([p[1][0]]), np.array([p[1][1]]),
                                g2)[0]:
                brute.add((pi, gi))

    for bt in (200_000, 0):  # broadcast and shuffle planner paths
        got = {(r["id"], r["id_r"]) for r in spatial_join(
            pdf, gdf, "intersects", broadcast_threshold=bt,
            res=10).collect()}
        assert got == brute, f"threshold={bt}"


def test_id_based_join_finisher_matches_value_identity(spark):
    """left/full/mark with declared unique id columns (round-4 VERDICT perf
    note) must return exactly the value-identity finisher's rows, and the
    anti-join must key on the id only (no payload hashing in the plan)."""
    import pandas as pd

    from sedona_db_spark.geometry import wkb as W

    def enc(x, y):
        return W.encode(("Point", np.array([x, y], dtype=np.float64)))

    pts = spark.createDataFrame(pd.DataFrame({
        "pid": range(40),
        "payload": [f"wide-{i}" * 5 for i in range(40)],
        "geom": [enc(float(i % 10), float(i // 10)) for i in range(40)]}))
    rects = spark.createDataFrame(pd.DataFrame({
        "rid": [0, 1],
        "geom": [W.encode(("Polygon", [np.array(
                    [[-.5, -.5], [4.5, -.5], [4.5, 1.5], [-.5, 1.5],
                     [-.5, -.5]])])),
                 W.encode(("Polygon", [np.array(
                    [[6.5, 2.5], [9.5, 2.5], [9.5, 3.5], [6.5, 3.5],
                     [6.5, 2.5]])]))]}))
    for how in ("left", "full", "mark", "left_semi", "left_anti"):
        a = spatial_join(pts, rects, "within", how,
                         left_geom="geom", right_geom="geom",
                         broadcast_threshold=0)   # force generic path
        b = spatial_join(pts, rects, "within", how,
                         left_geom="geom", right_geom="geom",
                         broadcast_threshold=0,
                         left_id="pid", right_id="rid")
        ka = sorted(tuple(r) for r in a.collect())
        kb = sorted(tuple(r) for r in b.collect())
        assert ka == kb, how
    # plan shape: the id-keyed anti join must not reference payload
    plan = spatial_join(pts, rects, "within", "left",
                        left_geom="geom", right_geom="geom",
                        broadcast_threshold=0, left_id="pid",
                        right_id="rid")._jdf.queryExecution().toString()
    import re
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and all("payload" not in ln for ln in anti)


def test_auto_salt_hot_cell_collect_is_capped(spark):
    """The salt="auto" histogram must never collect more than MAX_HOT_CELLS
    rows: the hot filter + top-K limit run job-side (round-6 VERDICT #3)."""
    import pandas as pd
    from sedona_db_spark.operators.spatial_join import _auto_hot_cells
    # 500 distinct cells, 10 of them 100x hotter than the rest
    rows = []
    for c in range(500):
        rows.extend([(c,)] * (200 if c < 10 else 2))
    cells = spark.createDataFrame(pd.DataFrame(rows, columns=["__cell"]))
    hot = _auto_hot_cells(cells, sample_frac=1.0, cap=5)
    assert len(hot) <= 5                      # capped by the LIMIT
    assert set(hot) <= set(range(10))         # only genuinely hot cells
    hot_all = _auto_hot_cells(cells, sample_frac=1.0)
    assert sorted(hot_all) == list(range(10))


def test_validate_id_keys_flag(spark):
    """spark.sedona_db_spark.validateIdKeys=true raises on a duplicate
    left_id before the id-keyed finisher silently corrupts outer output."""
    import pandas as pd
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": [0, 1, 1, 2],
        "geom": [W.encode(("Point", np.array([[float(i), 0.0]])))
                 for i in range(4)]}))
    rects = spark.createDataFrame(pd.DataFrame({
        "rid": [0],
        "geom": [W.encode(("Polygon", [np.array(
            [[-.5, -.5], [9.5, -.5], [9.5, .5], [-.5, .5], [-.5, -.5]])]))]}))
    spark.conf.set("spark.sedona_db_spark.validateIdKeys", "true")
    try:
        with pytest.raises(ValueError, match="not unique"):
            spatial_join(pts, rects, "within", "left", broadcast_threshold=0,
                         left_id="pid").collect()
        # unique ids pass under the flag
        ok = spatial_join(pts.dropDuplicates(["pid"]), rects, "within",
                          "left", broadcast_threshold=0,
                          left_id="pid").collect()
        assert len(ok) == 3
    finally:
        spark.conf.set("spark.sedona_db_spark.validateIdKeys", "false")


def test_mixed_rect_poly_split_vs_brute(spark):
    """Round-9 optimization: a mixed axis-rect + polygon build layer with a
    lon/lat probe splits into an interval-refine join (rects) unioned with
    the HOF refine join (true polygons).  Pair set must equal brute force,
    and the plan must stay JVM-only (no Python operators)."""
    import pandas as pd
    from sedona_db_spark.sources.fixtures import regions_grid

    regions = spark.createDataFrame(
        regions_grid(n_side=5, bounds=(-20.0, -20.0, 20.0, 20.0),
                     metro_hotspots=4))
    R = {r["region_id"]: W.decode(bytes(r["geom"])) for r in regions.collect()}
    kinds = {W.decode(bytes(r["geom"]))[0] for r in regions.collect()}
    rng = np.random.default_rng(11)
    n = 400
    pts = spark.createDataFrame(pd.DataFrame({
        "id": range(n),
        "lon": rng.uniform(-22, 22, n),
        "lat": rng.uniform(-22, 22, n)}))
    lons = {r["id"]: (r["lon"], r["lat"]) for r in pts.collect()}
    for pred, fn in (("coveredby", K.geom_covered_by),
                     ("intersects", K.geom_intersects)):
        j = spatial_join(pts, regions, pred,
                         left_lonlat=("lon", "lat"), right_geom="geom")
        plan = j._jdf.queryExecution().toString()
        assert "MapInPandas" not in plan and "EvalPython" not in plan
        # both refine tiers must actually appear (union of two joins)
        got = {(r["id"], r["region_id"]) for r in j.collect()}
        exp = set()
        for i, (x, y) in lons.items():
            p = ("Point", np.array([x, y]))
            for rid, g in R.items():
                if fn(p, g):
                    exp.add((i, rid))
        assert got == exp, pred


def test_byte_guard_post_collect_fallback(data, spark, monkeypatch):
    """Round-9: the broadcast byte-guard pre-check is skipped below 4096
    build rows; the post-collect check must then route an over-budget
    build side to the grid path with identical results."""
    import importlib
    SJ = importlib.import_module(
        "sedona_db_spark.operators.spatial_join")
    pdf, gdf, P, G = data
    base = brute(P, G, K.geom_intersects)
    monkeypatch.setattr(SJ, "_BROADCAST_GEOM_BYTES", 64)  # force the raise
    j = spatial_join(pdf, gdf, "intersects")
    plan = j._jdf.queryExecution().toString()
    assert "__cell" in plan  # grid path, not the collected-index path
    got = {(r["id"], r["id_r"]) for r in j.collect()}
    assert got == base
