"""The build side of a broadcast spatial join, and ``cover_cells``: the
one rule of which cells a geometry covers, for every tier."""

from __future__ import annotations

import functools
import math
import threading
from collections import OrderedDict

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from sedona_db_spark import grid
from sedona_db_spark.geometry import kernels as K
from sedona_db_spark.geometry import wkb as W
from sedona_db_spark.geometry.algos import EARTH_RADIUS_M
from sedona_db_spark.operators import leaf_refine as LR
from sedona_db_spark.operators.jvm_join import _CELL_TABLE, _geom_edge_parts

_NO_CELLS = np.empty(0, dtype=np.int64)

MAX_JVM_POLY_EDGES = 512  # per build geometry; beyond this the numpy
                          # batch-vectorized refine amortizes better
# build geometry types the all-JVM tier refines over edge arrays
_JVM_TYPES = ("Point", "MultiPoint", "LineString", "MultiLineString",
              "Polygon", "MultiPolygon")


def _arc_lat_bulge_deg(y_abs_max: float, dlon: float) -> float:
    """Upper bound (degrees) on how far poleward a geodesic chord between
    two points of a bbox can bulge past the bbox's lat range: the vertex
    latitude of the worst chord — both endpoints at the extreme latitude
    with the full lon separation (peak = atan(tan φ / cos(Δλ/2)))."""
    if y_abs_max >= 90.0:
        return 0.0
    phi = math.radians(min(y_abs_max, 89.999))
    h = math.cos(math.radians(min(abs(dlon), 180.0)) / 2.0)
    if h <= 1e-12:
        return 90.0 - y_abs_max
    return max(0.0, math.degrees(math.atan2(math.tan(phi), h))
               - y_abs_max)


def _sphere_cover(x0: float, y0: float, x1: float, y1: float, d_m: float,
                  res: int, point: bool) -> np.ndarray:
    """Cells intersecting the d_m-padded spherical neighbourhood of a
    lon/lat bbox.  A point takes its exact cap bbox (Δφ = c, the angular
    radius; Δλ = asin(sin c / cos φ₀)); a larger bbox pads by the cap at
    its most poleward latitude plus the geodesic-edge bulge bound, since a
    great-circle edge between bbox vertices can leave the planar bbox
    poleward.  Caps reaching a pole span all longitudes; boxes crossing
    the antimeridian split into two coverings (grid cells don't wrap)."""
    c = d_m / EARTH_RADIUS_M
    pad_lat = math.degrees(c)
    if not point:
        pad_lat += _arc_lat_bulge_deg(max(abs(y0), abs(y1)), x1 - x0)
    Y0, Y1 = max(-90.0, y0 - pad_lat), min(90.0, y1 + pad_lat)
    if point:
        phi, polar = abs(y0), abs(y0) + pad_lat >= 90.0
    else:
        phi = max(abs(Y0), abs(Y1))
        polar = phi >= 90.0 - 1e-9
    s = math.sin(c)
    if c >= math.pi / 2 or polar or s >= math.cos(math.radians(phi)):
        return grid.covering_cells(-180.0, Y0, 180.0, Y1, res)
    pad_lon = math.degrees(math.asin(s / math.cos(math.radians(phi))))
    X0, X1 = x0 - pad_lon, x1 + pad_lon
    if X1 - X0 >= 360.0:
        return grid.covering_cells(-180.0, Y0, 180.0, Y1, res)
    segs = []
    if X0 < -180.0:
        segs.append((X0 + 360.0, 180.0))
        X0 = -180.0
    if X1 > 180.0:
        segs.append((-180.0, X1 - 360.0))
        X1 = 180.0
    segs.append((X0, X1))
    return np.unique(np.concatenate(
        [grid.covering_cells(a, Y0, b, Y1, res) for a, b in segs]))


def cover_cells(g, res: int, pad: float | None = 0.0,
                sphere_m: float | None = None,
                max_cells: int | None = None) -> np.ndarray:
    """The cell ids a geometry covers at ``res``: the cells of its bbox
    widened by ``pad``; with ``sphere_m``, of its great-circle
    neighbourhood of that many meters (``_sphere_cover``, pad unused);
    with ``max_cells``, at the finest level ≤ ``res`` whose covering
    stays within ``max_cells`` (adaptive splitting: an oversized geometry
    covers coarser, so its fanout stays bounded; the level rides in the
    cell id).  A NULL or empty geometry, or a NULL or NaN pad, covers
    nothing."""
    if g is None or pad is None or np.isnan(pad):
        return _NO_CELLS
    if sphere_m is not None and g[0] == "Point" and not np.isnan(g[1][0]):
        x, y = float(g[1][0]), float(g[1][1])
        return _sphere_cover(x, y, x, y, sphere_m, res, point=True)
    x0, y0, x1, y1 = K.geom_bbox(g)
    if np.isnan(x0):
        return _NO_CELLS
    if sphere_m is not None:
        return _sphere_cover(x0, y0, x1, y1, sphere_m, res, point=False)
    x0, y0, x1, y1 = x0 - pad, y0 - pad, x1 + pad, y1 + pad
    if max_cells is not None:
        res = grid.pick_covering_res(x0, y0, x1, y1, max_cells=max_cells,
                                     res_cap=res)
    return grid.covering_cells(x0, y0, x1, y1, res)


def _is_axis_rect(g) -> bool:
    """True iff g is a single-ring polygon identical to its own bbox."""
    if g is None or g[0] != "Polygon" or len(g[1]) != 1:
        return False
    ring = g[1][0]
    if len(ring) not in (4, 5):
        return False
    pts = {(float(p[0]), float(p[1])) for p in ring}
    xmin, ymin, xmax, ymax = K.geom_bbox(g)
    return pts == {(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax)}


def _edge_count(g) -> int:
    name = g[0]
    if name in ("Point",):
        return 1
    if name in ("MultiPoint",):
        return len(g[1])
    if name == "LineString":
        return max(len(g[1]) - 1, 0)
    if name == "MultiLineString":
        return sum(max(len(l) - 1, 0) for l in g[1])
    parts = [g[1]] if g[0] == "Polygon" else g[1]
    return sum(max(len(r) - 1, 0) for rings in parts for r in rings)


class _BuildSide:
    """A broadcast build side, collected once: the checkpointed frame
    with ``__ridx``, the rows' ids, WKBs and per-row pads and their WKB
    byte total, the checkpoint's stored bytes and, decoded on first use,
    the rows' geometries, bboxes, mean bbox extent and shapes for the
    all-JVM tier, and the cell index broadcasts and JVM cell and leaf
    tables built from them so far.  A side over the byte budget is never
    decoded: the planner rejects it by ``nbytes``."""

    MAX_INDEXES = 4

    def __init__(self, right: DataFrame, rgeom: str, dist_col: str | None):
        # pin a row index; the LAZY localCheckpoint materializes (and
        # persists) during the collect job below — one job instead of an
        # eager-checkpoint job plus a collect job.  Once materialized, the
        # id assignment is frozen: the driver dict and the JVM payload
        # join both read the checkpointed blocks, never a recompute
        # (persist() alone is best-effort — a cache-evicted recompute of a
        # nondeterministically ordered upstream could reassign ids; a
        # checkpoint cannot).
        self.right_i = (right.withColumn("__ridx",
                                         F.monotonically_increasing_id())
                        .localCheckpoint(eager=False))
        sel = ["__ridx", rgeom] + ([dist_col] if dist_col is not None else [])
        rows = self.right_i.select(*sel).collect()
        self._ckpt = self.right_i._jdf.queryExecution().analyzed().rdd()
        self.stored = self.stored_bytes() or 0
        # build rows by POSITION: the cell index lists positions, ``ids``
        # maps them back to __ridx
        self.ids = np.array([int(r["__ridx"]) for r in rows], dtype=np.int64)
        self.wkbs = [None if r[rgeom] is None else bytes(r[rgeom])
                     for r in rows]
        self.nbytes = sum(len(b) for b in self.wkbs if b is not None)
        self.pads = None
        if dist_col is not None:
            # a NULL build distance never matches (the cell path's refine
            # yields NULL for it); NaN keeps the row out of the index
            self.pads = np.array([np.nan if r[dist_col] is None
                                  else float(r[dist_col]) for r in rows],
                                 dtype=np.float64)
        # cell indexes with their broadcasts, and JVM cell and leaf
        # tables (a leaf table is made from the cell rows: reentrant)
        self.derived: OrderedDict = OrderedDict()
        self.lock = threading.RLock()

    @functools.cached_property
    def geoms(self) -> list:
        return [None if b is None else W.decode(b) for b in self.wkbs]

    @functools.cached_property
    def bbox(self) -> np.ndarray:
        bbox = np.full((len(self.ids), 4), np.nan)
        for pos, g in enumerate(self.geoms):
            if g is not None:
                bbox[pos] = K.geom_bbox(g)
        return bbox

    @functools.cached_property
    def extent(self) -> tuple[float, float]:
        """Mean bbox width and height over the non-empty rows."""
        ext = self.bbox[~np.isnan(self.bbox[:, 0])]
        return ((float(np.mean(ext[:, 2] - ext[:, 0])),
                 float(np.mean(ext[:, 3] - ext[:, 1])))
                if len(ext) else (0.0, 0.0))

    def stored_bytes(self) -> int | None:
        """Bytes the checkpoint's blocks hold in executor memory and on
        disk, or None once a block is gone.  A local checkpoint is not
        fault-tolerant: after an unpersist or a lost executor, every
        read of ``right_i`` fails.  Asks the block manager master, starts
        no job."""
        jvm = self.right_i.sparkSession.sparkContext._jvm
        total = 0
        try:
            env = jvm.org.apache.spark.SparkEnv.get()
            master = env.blockManager().master()
            for part in range(self._ckpt.getNumPartitions()):
                got = master.getLocationsAndStatus(
                    jvm.org.apache.spark.storage.RDDBlockId(self._ckpt.id(),
                                                            part), "")
                if got.isEmpty() or got.get().locations().isEmpty():
                    return None
                st = got.get().status()
                total += st.memSize() + st.diskSize()
        except Exception:
            return None
        return total

    def blocks_present(self) -> bool:
        return self.stored_bytes() is not None

    def weight(self) -> int:
        """Bytes this side holds: its WKB on the driver, its checkpoint on
        the executors and its cached JVM cell and leaf tables."""
        with self.lock:
            return (self.nbytes + self.stored
                    + sum(b for _, b in self.derived.values()))

    def _derived(self, key, make):
        """The structure under ``key`` in this side's small LRU, made on
        first use by ``make() -> (value, bytes)``."""
        with self.lock:
            hit = self.derived.get(key)
            if hit is None:
                hit = self.derived[key] = make()
                if len(self.derived) > self.MAX_INDEXES:
                    self.derived.popitem(last=False)
            self.derived.move_to_end(key)
            return hit[0]

    def index_broadcast(self, sc, res: int, pad: float, predicate: str,
                        distance):
        """The broadcast cell index at ``res``, built on first use (an
        explicit ``res`` and one derived from ``pad`` share it)."""
        sphere = predicate in ("dwithin_sphere", "intersects_sphere")
        d_cov = float(distance) if predicate == "dwithin_sphere" else 0.0
        return self._derived(
            ("index", res, pad, sphere, d_cov),
            lambda: (sc.broadcast(self._cell_index(res, pad, sphere, d_cov)),
                     0))

    @functools.cached_property
    def shapes(self) -> list:
        """Each row's shape for the all-JVM tier, classified once: None
        for a NULL geometry, "rect" for an axis-aligned rectangle, its
        type for a point, line or polygon of at most MAX_JVM_POLY_EDGES
        edges, else "other"."""
        return [None if g is None else "rect" if _is_axis_rect(g)
                else g[0] if (g[0] in _JVM_TYPES
                              and _edge_count(g) <= MAX_JVM_POLY_EDGES)
                else "other" for g in self.geoms]

    def cell_rows(self, res: int, pad: float) -> pd.DataFrame:
        """The all-JVM tier's cell rows at ``res``, made on first use: one
        row per (covering cell, build row) with the row's position, id,
        bbox ``__x0..__y1`` and, unless the row is a box, its edge arrays
        ``__parts``.  Rects and points are boxes: a point is the
        degenerate box [x,x]×[y,y], whose clamp distance IS the point
        distance and whose closed box IS coordinate equality (the tier
        takes points only where that holds: lon/lat probes, not
        ``within``)."""
        return self._derived(("cells", res, pad),
                             lambda: self._cell_table(res, pad))

    def cell_table(self, res: int, pad: float) -> DataFrame:
        """The cell rows as a broadcastable table, refined by the lambda
        refine.  Built from pandas, so it plans as a LocalRelation."""
        def make():
            pdf = self.cell_rows(res, pad)[[f.name for f in _CELL_TABLE]]
            spark = self.right_i.sparkSession
            return spark.createDataFrame(pdf, _CELL_TABLE), 0
        return self._derived(("cell_table", res, pad), make)

    def leaf_table(self, res: int) -> LR.Leaves:
        """The leaf refine's tables at ``res`` (``leaf_refine``), made on
        first use from the cell rows: ``cells`` (kind, bbox and slot id
        per leaf and build row) and ``slots`` (each EDGE slot's values),
        or the reason the side keeps the lambda refine."""
        return self._derived(("leaves", res), lambda: self._leaf_table(res))

    def _leaf_table(self, res: int) -> tuple:
        boxes = {pos for pos, shape in enumerate(self.shapes)
                 if shape in ("rect", "Point")}
        leaves = LR.build(self.cell_rows(res, 0.0), self.geoms, boxes, res)
        spark = self.right_i.sparkSession
        if leaves.reason is None:
            leaves.cells = spark.createDataFrame(leaves.cell_rows)
        if leaves.slot_rows is not None:
            leaves.slots = spark.createDataFrame(leaves.slot_rows)
        return leaves, leaves.nbytes()

    def _cell_table(self, res: int, pad: float) -> tuple:
        rows, nbytes = [], 0
        for pos, shape in enumerate(self.shapes):
            cells = cover_cells(self.geoms[pos], res, pad)
            if not len(cells):          # NULL or empty geometry
                continue
            x0, y0, x1, y1 = self.bbox[pos]
            box = shape in ("rect", "Point")
            parts = None if box else _geom_edge_parts(self.geoms[pos])
            # each edge sits twice per cell row (in its ring's array and
            # in ``edges``), 4 doubles each
            nbytes += len(cells) * (48 + (0 if box else 64 * _edge_count(
                self.geoms[pos])))
            rid = int(self.ids[pos])
            rows.extend((int(c), rid, x0, y0, x1, y1, parts, pos)
                        for c in cells)
        pdf = pd.DataFrame(rows, columns=[f.name for f in _CELL_TABLE.fields]
                           + ["__pos"])
        return pdf, nbytes

    def _cell_index(self, res, pad, sphere, d_cov) -> tuple:
        pads = self.pads
        level = np.full(len(self.ids), -1, dtype=np.int64)
        cellmap: dict[int, list] = {}
        for pos, g in enumerate(self.geoms):
            # adaptive per-geometry level (north-rule adaptive splitting):
            # oversized geometries cover coarser so the index stays small
            cover = (cover_cells(g, res, sphere_m=d_cov) if sphere else
                     cover_cells(g, res, pads[pos] if pads is not None
                                 else pad, max_cells=64))
            if not len(cover):
                continue
            level[pos] = int(cover[0]) >> grid._RES_SHIFT
            for c in cover:
                cellmap.setdefault(int(c), []).append(pos)
        cellmap = {c: np.asarray(v, dtype=np.int64)
                   for c, v in cellmap.items()}
        levels = sorted({c >> grid._RES_SHIFT for c in cellmap}) or [res]
        level_rows = {lv: np.flatnonzero(level == lv) for lv in levels}
        # rows outside every level (NaN pad) are never candidates, so
        # their bboxes need no masking
        return (self.wkbs, cellmap, pads, levels, self.ids, self.bbox,
                level_rows)
