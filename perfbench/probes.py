"""Hot-path numpy kernels timed outside Spark.

Inputs come from the workloads' own generators under the run's seed:
points as ``fixtures.random_points`` over the world, the ``pages_pip``
region layer, and the ``grid_ingest`` parcels and zoning layer.  The
metro polygons of the region layer are the 12-gons that take the general
point-in-polygon path.  Each
probe reports the best of a few repetitions, as work per second.
"""

from __future__ import annotations

import time

import numpy as np

N_POINTS = 200_000
REPEATS = 3


def _best_rate(work: int, fn) -> float:
    best = float("inf")
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return work / best


def kernel_probes(seed: int, tracer) -> dict:
    from sedona_db_spark import grid
    from sedona_db_spark.geometry import kernels as K
    from sedona_db_spark.geometry import wkb as W
    from sedona_db_spark.sources.fixtures import random_points, regions_grid

    import workloads

    pts = random_points(N_POINTS, seed=seed, bounds=workloads.WORLD)
    wkbs = list(pts["geometry"])
    px, py = W.wkb_to_points(wkbs)
    regions = [W.decode(bytes(g)) for g in regions_grid(
        n_side=16, bounds=workloads.WORLD, metro_hotspots=8)["geom"]]
    scene = workloads.Scene(seed)
    parcels = [W.decode(bytes(g)) for pdf in
               scene.parcel_batches(2, workloads.GridIngest.N_PER_BATCH)
               for g in pdf["geom"]]
    zones = [W.decode(bytes(g)) for g in
             scene.zoning_layer(workloads.GridIngest.N_ZONES)["geom"]]
    # candidate pairs: parcel and zone bounding boxes overlap
    pb = np.array([K.geom_bbox(g) for g in parcels])
    zb = np.array([K.geom_bbox(g) for g in zones])
    pairs = [(i, j) for i in range(len(parcels))
             for j in np.nonzero((zb[:, 0] <= pb[i, 2]) & (zb[:, 2] >= pb[i, 0])
                                 & (zb[:, 1] <= pb[i, 3]) & (zb[:, 3] >= pb[i, 1]))[0]]
    res = 10

    out = {}
    with tracer.span("kernels.wkb_to_points"):
        out["kernels.wkb_to_points.rows_per_s"] = _best_rate(
            len(wkbs), lambda: W.wkb_to_points(wkbs))
    with tracer.span("kernels.points_in_geom"):
        out["kernels.points_in_geom.rows_per_s"] = _best_rate(
            len(px) * len(regions[-8:]),
            lambda: [K.points_in_geom(px, py, g) for g in regions[-8:]])
    with tracer.span("kernels.geom_intersects"):
        out["kernels.geom_intersects.pairs_per_s"] = _best_rate(
            len(pairs), lambda: [K.geom_intersects(parcels[i], zones[j])
                                 for i, j in pairs])
    with tracer.span("grid.cell_ids"):
        out["grid.cell_ids.rows_per_s"] = _best_rate(
            len(px), lambda: grid.cell_ids(px, py, res))
    with tracer.span("grid.covering_cells"):
        out["grid.covering_cells.geoms_per_s"] = _best_rate(
            len(pb), lambda: [grid.covering_cells(*b, res) for b in pb])
    return out
