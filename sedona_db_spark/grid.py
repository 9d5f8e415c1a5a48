"""Hierarchical lon/lat grid — the engine's spatial index key space.

The Spark-native analogue of the reference's spatial partitioning layer:
SedonaDB partitions the build side with a KDB-tree over sampled bboxes
(/root/reference/rust/sedona-spatial-join/src/partitioning/kdb.rs:18-37) and
sorts storage by S2 cell id (`sd_order`,
/root/reference/c/sedona-proj/src/sd_order_lnglat.rs:32-60).  On Spark the
equivalent lever is a *key column*: a deterministic int64 cell id that
Catalyst can hash-partition, broadcast, sort and min/max-prune on.

Cell scheme (all public math, no external index library):

- resolution r ∈ [0, 28]: the lon axis splits into 2^r columns of width
  360/2^r degrees, the lat axis into 2^r rows of height 180/2^r.
- cell id packs (r, ix, iy) = (r << 58) | (ix << 29) | iy — monotone within
  a resolution, unique across resolutions, positive int64.
- `cell_expr_sql` emits the same computation as a plain SQL expression so
  a DuckDB oracle (and Iceberg partition transforms) can reproduce ids.

Everything is numpy-vectorized; the per-geometry covering loop runs on the
dimension side only (polygons are the small side of web-scale joins).
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28
_RES_SHIFT = 58
_X_SHIFT = 29

WORLD = (-180.0, -90.0, 180.0, 90.0)


def cell_width(res: int) -> float:
    return 360.0 / (1 << res)


def cell_height(res: int) -> float:
    return 180.0 / (1 << res)


def cell_ids(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized point → cell id at resolution ``res``."""
    n = 1 << res
    ix = np.clip(((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    iy = np.clip(((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return (np.int64(res) << _RES_SHIFT) | (ix << _X_SHIFT) | iy


def cell_id(lon: float, lat: float, res: int) -> int:
    return int(cell_ids(np.array([lon]), np.array([lat]), res)[0])


def unpack(cell: int) -> tuple[int, int, int]:
    return (int(cell) >> _RES_SHIFT, (int(cell) >> _X_SHIFT) & ((1 << 29) - 1),
            int(cell) & ((1 << 29) - 1))


def cell_bbox(cell: int) -> tuple[float, float, float, float]:
    res, ix, iy = unpack(cell)
    w, h = cell_width(res), cell_height(res)
    return (-180.0 + ix * w, -90.0 + iy * h, -180.0 + (ix + 1) * w, -90.0 + (iy + 1) * h)


def _covering_range(xmin, ymin, xmax, ymax, res):
    """Inclusive (ix0, ix1, iy0, iy1) index range of the bbox's cells."""
    n = 1 << res
    ix0 = int(np.clip(np.floor((xmin + 180.0) / 360.0 * n), 0, n - 1))
    ix1 = int(np.clip(np.floor((xmax + 180.0) / 360.0 * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((ymin + 90.0) / 180.0 * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((ymax + 90.0) / 180.0 * n), 0, n - 1))
    return ix0, ix1, iy0, iy1


def covering_count(xmin: float, ymin: float, xmax: float, ymax: float,
                   res: int) -> int:
    """len(covering_cells(...)) without building the cells."""
    ix0, ix1, iy0, iy1 = _covering_range(xmin, ymin, xmax, ymax, res)
    return (ix1 - ix0 + 1) * (iy1 - iy0 + 1)


def covering_cells(xmin: float, ymin: float, xmax: float, ymax: float,
                   res: int) -> np.ndarray:
    """All cell ids at ``res`` whose boxes intersect the bbox. Vectorized."""
    ix0, ix1, iy0, iy1 = _covering_range(xmin, ymin, xmax, ymax, res)
    n_cells = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
    if n_cells > (1 << 22):
        raise ValueError(
            f"covering of bbox ({xmin},{ymin},{xmax},{ymax}) at res {res} "
            f"would produce {n_cells} cells; choose a coarser resolution")
    ixs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys, indexing="ij")
    return ((np.int64(res) << _RES_SHIFT) | (gx.ravel() << _X_SHIFT) | gy.ravel())


def pick_covering_res(xmin, ymin, xmax, ymax, max_cells: int = 64,
                      res_cap: int = MAX_RES) -> int:
    """Finest resolution whose covering of the bbox stays ≤ max_cells.

    The adaptive-splitting lever: small geometries index at fine cells
    (good pruning), continent-sized ones at coarse cells (bounded fanout)
    — mirrors the reference's KDB leaf sizing by sampled bbox density.
    """
    for res in range(res_cap, -1, -1):
        nx = max(1, int((xmax - xmin) / cell_width(res)) + 2)
        ny = max(1, int((ymax - ymin) / cell_height(res)) + 2)
        if nx * ny <= max_cells:
            return res
    return 0


def ring_cells(cell: int, ring: int) -> np.ndarray:
    """Cells at exactly grid-distance ``ring`` (Chebyshev) from ``cell``.

    ring=0 → the cell itself. Drives kNN ring expansion (grid analogue of
    the reference's R-tree KNN probe,
    /root/reference/rust/sedona-spatial-join/src/probe/knn_results_merger.rs).
    """
    res, ix, iy = unpack(cell)
    n = 1 << res
    if ring == 0:
        return np.array([cell], dtype=np.int64)
    out = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            if max(abs(dx), abs(dy)) != ring:
                continue
            jx, jy = ix + dx, iy + dy
            if 0 <= jy < n:
                jx %= n  # lon wraps
                out.append((np.int64(res) << _RES_SHIFT) | (np.int64(jx) << _X_SHIFT) | np.int64(jy))
    return np.array(out, dtype=np.int64)


def cell_expr_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The cell-id computation as portable SQL (Spark SQL == DuckDB SQL).

    Lets oracles reproduce cell assignment with no UDF, and doubles as the
    Iceberg partition-transform expression for cell-clustered tables.
    """
    n = 1 << res
    # CAST(... AS DOUBLE) divisors: bare decimal literals make DuckDB run
    # the division in DECIMAL, not IEEE double
    ix = (f"least(greatest(cast(floor((({lon_expr}) + 180.0) "
          f"/ cast(360 as double) * {n}) as bigint), 0), {n - 1})")
    iy = (f"least(greatest(cast(floor((({lat_expr}) + 90.0) "
          f"/ cast(180 as double) * {n}) as bigint), 0), {n - 1})")
    return (f"(cast({res} as bigint) * {1 << _RES_SHIFT} + "
            f"({ix}) * {1 << _X_SHIFT} + ({iy}))")


def hilbert_d(ix: np.ndarray, iy: np.ndarray, order: int) -> np.ndarray:
    """Vectorized Hilbert-curve distance of cell coords at 2^order × 2^order.

    Classic xy→d bit transform (public-domain algorithm, e.g. Wikipedia
    'Hilbert curve'), vectorized: ``order`` iterations of numpy mask ops.
    Adjacent curve positions are adjacent cells, so sorting by this key
    gives strictly better storage locality than row-major cell ids — the
    analogue of the reference's S2-cell ordering (sd_order_lnglat.rs:32-60;
    S2 positions ARE Hilbert-curve positions on each cube face).
    """
    x = np.asarray(ix, dtype=np.int64).copy()
    y = np.asarray(iy, dtype=np.int64).copy()
    d = np.zeros(len(x), dtype=np.int64)
    s = np.int64(1) << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        flip = ry == 0
        swap_flip = flip & (rx == 1)
        x_f, y_f = x[swap_flip], y[swap_flip]
        x[swap_flip], y[swap_flip] = s - 1 - x_f, s - 1 - y_f
        x_sw, y_sw = x[flip].copy(), y[flip].copy()
        x[flip], y[flip] = y_sw, x_sw
        s >>= 1
    return d


def hilbert_ids(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Hilbert sort key of lon/lat points at resolution ``res``."""
    n = 1 << res
    ix = np.clip(((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n)
                 .astype(np.int64), 0, n - 1)
    iy = np.clip(((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n)
                 .astype(np.int64), 0, n - 1)
    return hilbert_d(ix, iy, res)


def neighbor_cells_expr_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """SQL array of the (up to) 9 cell ids in the 3x3 neighborhood of the
    point's cell — lon wraps, lat clamps, duplicates removed.

    The stream-stream spatial join's expansion key: two points within one
    cell size of each other always share at least one array element with
    the other side's single cell (pure JVM, no UDF)."""
    n = 1 << res
    ix = (f"least(greatest(cast(floor((({lon_expr}) + 180.0) "
          f"/ cast(360 as double) * {n}) as bigint), 0), {n - 1})")
    iy = (f"least(greatest(cast(floor((({lat_expr}) + 90.0) "
          f"/ cast(180 as double) * {n}) as bigint), 0), {n - 1})")
    cells = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            jx = f"pmod(({ix}) + ({dx}), {n})"          # lon wraps
            jy = f"least(greatest(({iy}) + ({dy}), 0), {n - 1})"  # lat clamps
            cells.append(f"(cast({res} as bigint) * {1 << _RES_SHIFT} + "
                         f"({jx}) * {1 << _X_SHIFT} + ({jy}))")
    return "array_distinct(array(" + ", ".join(cells) + "))"
