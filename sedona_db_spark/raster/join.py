"""Raster ↔ vector lookup join — the RS_Intersects(raster, geom) shape as a
cell join instead of a cartesian product.

The reference evaluates raster-vector predicates per pair against the
raster's hull (rs_spatial_predicates.rs:18-30); its planner still needs a
join strategy to avoid the tile×geom cross product.  Spark-first strategy:

1. tile extents are PURE JVM expressions over the raster struct's
   geotransform (4 affine corners → least/greatest), so the probe side
   never touches Python;
2. each tile explodes to the grid cells covering its extent
   (``sequence()`` over cell indices — still JVM, bounded fanout by
   resolution choice);
3. the vector side (the small/dimension side: admin areas, AOI polygons)
   is collected once, its bbox covering cells become a broadcast cell
   table — a BroadcastHashJoin on the cell key;
4. refine: interval arithmetic for axis-aligned geometries (whole-stage
   codegen, exact); general geometries refine via the rs_intersects
   kernel on the *candidate pairs only*;
5. duplicate (tile, geom) matches across shared cells are suppressed by
   the reference-point rule — a pair is emitted only in the cell that
   contains the intersection bbox's lower-left corner — so no
   dropDuplicates shuffle (the classic trick from partitioned spatial
   joins, used by the reference's partitioning layer
   rust/sedona-spatial-join/src/partitioning/).

At 100 TB of tiles this is: one JVM projection + bounded explode of the
tile side, a broadcast join, and a codegen filter — no shuffle of the tile
table, no Python in the axis-aligned hot path.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from sedona_db_spark import grid
from sedona_db_spark.geometry import kernels as K, wkb as W


def _deep_sizeof(v, _depth: int = 0) -> int:
    """Approximate recursive byte size of a collected value: containers
    (list/tuple/dict/Row) add their elements, bytes/str are already flat.
    Depth-capped — this feeds a coarse collect guard, not an accountant."""
    n = sys.getsizeof(v)
    if _depth < 4:
        if isinstance(v, dict):
            n += sum(_deep_sizeof(x, _depth + 1) for kv in v.items()
                     for x in kv)
        elif isinstance(v, (list, tuple)) or hasattr(v, "__fields__"):
            n += sum(_deep_sizeof(x, _depth + 1) for x in v)
    return n


def raster_extent_cols(raster_col: str):
    """(xmin, ymin, xmax, ymax) Columns of a raster's extent: envelope of
    the 4 affine-transformed corners (exact for any skew)."""
    m = F.col(raster_col + ".metadata")
    w = m["width"].cast("double")
    h = m["height"].cast("double")
    ulx, uly = m["upperleft_x"], m["upperleft_y"]
    sx, sy = m["scale_x"], m["scale_y"]
    kx, ky = m["skew_x"], m["skew_y"]
    xs = [ulx, ulx + w * sx, ulx + h * kx, ulx + w * sx + h * kx]
    ys = [uly, uly + w * ky, uly + h * sy, uly + w * ky + h * sy]
    return F.least(*xs), F.least(*ys), F.greatest(*xs), F.greatest(*ys)


def _covering_cells_sql(x0: str, y0: str, x1: str, y1: str, res: int) -> str:
    """SQL array of the cell ids covering a bbox given by column names —
    the JVM twin of grid.covering_cells."""
    n = 1 << res
    base = res << 58

    def ix(e):
        return (f"least(greatest(cast(floor((({e}) + 180.0) "
                f"/ cast(360 as double) * {n}) as bigint), 0), {n - 1})")

    def iy(e):
        return (f"least(greatest(cast(floor((({e}) + 90.0) "
                f"/ cast(180 as double) * {n}) as bigint), 0), {n - 1})")

    return (f"flatten(transform(sequence({ix(x0)}, {ix(x1)}), __cix -> "
            f"transform(sequence({iy(y0)}, {iy(y1)}), __ciy -> "
            f"cast({base} as bigint) + __cix * cast({1 << 29} as bigint) "
            f"+ __ciy)))")


def raster_vector_join(tiles: DataFrame, vectors: DataFrame,
                       raster_col: str = "raster", geom_col: str = "geom",
                       res: int | None = None,
                       vector_id_col: str | None = None) -> DataFrame:
    """Inner join of tiles × vector geometries on RS_Intersects semantics
    (raster extent ∩ geometry ≠ ∅).  Returns tile columns + vector columns.

    The vector side is the dimension side (collected + broadcast); the
    tile side can be arbitrarily large — it is never shuffled or
    collected.
    """
    from sedona_db_spark.operators.build_side import _is_axis_rect

    tx0, ty0, tx1, ty1 = raster_extent_cols(raster_col)
    t = (tiles.withColumn("__tx0", tx0).withColumn("__ty0", ty0)
              .withColumn("__tx1", tx1).withColumn("__ty1", ty1))

    # ONE driver collect of the dimension side (round-5 perf fix: the old
    # path eagerly localCheckpoint-ed vectors to pin executor-generated
    # ids, then collected the geometry column — two serialized jobs before
    # any work).  Ids are now assigned in driver order over the single
    # collected row set, and the broadcast payload side is rebuilt from
    # those same rows, so id consistency is structural, not checkpointed.
    # A caller whose vector side carries a unique id column can pass
    # ``vector_id_col`` to collect ONLY (id, geom) and keep wide payloads
    # off the driver entirely (the payload broadcast joins by that id);
    # otherwise full rows are collected under a 512 MB byte guard.
    from pyspark.sql.types import LongType, StructField, StructType
    spark0 = tiles.sparkSession
    if vector_id_col is not None:
        id_rows = vectors.select(vector_id_col, geom_col).collect()
        r_geoms = {i: (None if row[geom_col] is None
                       else W.decode(bytes(row[geom_col])))
                   for i, row in enumerate(id_rows)}
        right_i = vectors.join(
            F.broadcast(spark0.createDataFrame(
                [(i, row[vector_id_col]) for i, row in enumerate(id_rows)],
                schema=StructType([
                    StructField("__ridx", LongType(), False),
                    vectors.schema[vector_id_col]]))),
            on=vector_id_col)
    else:
        vec_rows = vectors.collect()
        # approximate size check: sample up to 1000 rows, scale by the true
        # row ratio as a float (a floor here under-counted ~2x at 1999
        # rows), and deep-size nested values — sys.getsizeof alone is
        # shallow for lists/dicts/Rows.
        sample = vec_rows[:1000]
        approx = int(
            sum(_deep_sizeof(v) for row in sample for v in row)
            * (len(vec_rows) / max(1, len(sample))))
        if approx > 512 * 1024 * 1024:
            raise ValueError(
                "raster_vector_join: the vector side is too wide/large to "
                "collect (~%d MB) — pass vector_id_col=<unique id column> "
                "so only (id, geom) is collected" % (approx >> 20))
        r_geoms = {i: (None if row[geom_col] is None
                       else W.decode(bytes(row[geom_col])))
                   for i, row in enumerate(vec_rows)}
        # Arrow-backed conversion: a list-of-Rows createDataFrame executes
        # through the pickled-Python-RDD path on EVERY run of the final
        # plan (measured 2.3x slower end-to-end on tile_assignments,
        # round-6 A/B); a pandas frame ships once as Arrow batches
        pdf = pd.DataFrame({"__ridx": np.arange(len(vec_rows),
                                                dtype=np.int64)})
        for fi, fld in enumerate(vectors.schema.fields):
            pdf[fld.name] = pd.Series([row[fi] for row in vec_rows],
                                      dtype=object)
        right_i = spark0.createDataFrame(
            pdf, schema=StructType([StructField("__ridx", LongType(),
                                                False),
                                    *vectors.schema.fields]))
    all_rect = (any(g is not None for g in r_geoms.values())
                and all(g is None or _is_axis_rect(g) for g in r_geoms.values()))

    # resolution: finest grid where a typical tile covers ≤ ~4 cells, capped
    # so the widest vector bbox covering stays bounded
    if res is None:
        # tile-extent stats memoized on the canonicalized plan (see
        # spatial_join._sem_cached): repeated joins over the same tile
        # frame skip the stats job entirely
        from sedona_db_spark.operators.memo import (
            _SEM_STATS_CACHE, _sem_cached)

        def _tile_stats():
            r = t.select(
                F.max(F.col("__tx1") - F.col("__tx0")).alias("w"),
                F.max(F.col("__ty1") - F.col("__ty0")).alias("h")).collect()[0]
            return float(r["w"] or 1.0), float(r["h"] or 1.0)
        w_max, h_max = _sem_cached(_SEM_STATS_CACHE, t, ("tiles",),
                                   _tile_stats)
        res = grid.pick_covering_res(0.0, 0.0, w_max, h_max, max_cells=4)
        for g in r_geoms.values():
            if g is None:
                continue
            bb = K.geom_bbox(g)
            if not np.isnan(bb[0]):
                res = min(res, grid.pick_covering_res(*bb, max_cells=256))

    cell_rows = []
    for i, g in r_geoms.items():
        if g is None:
            continue
        x0, y0, x1, y1 = K.geom_bbox(g)
        if np.isnan(x0):
            continue
        for c in grid.covering_cells(x0, y0, x1, y1, res):
            cell_rows.append((int(c), i, x0, y0, x1, y1))
    spark = tiles.sparkSession
    rcells = spark.createDataFrame(pd.DataFrame(
        cell_rows, columns=["__cell", "__ridx", "__x0", "__y0", "__x1", "__y1"]))

    t_cells = t.withColumn("__cell", F.explode(F.expr(
        _covering_cells_sql("__tx0", "__ty0", "__tx1", "__ty1", res))))
    cand = t_cells.join(F.broadcast(rcells), on="__cell")

    # bbox overlap (closed intervals — RS_Intersects is boundary-inclusive)
    overlap = ((F.col("__tx0") <= F.col("__x1"))
               & (F.col("__x0") <= F.col("__tx1"))
               & (F.col("__ty0") <= F.col("__y1"))
               & (F.col("__y0") <= F.col("__ty1")))
    # reference-point dedup: emit only in the cell holding the
    # intersection bbox's lower-left corner
    ref_cell = F.expr(grid.cell_expr_sql(
        "greatest(__tx0, __x0)", "greatest(__ty0, __y0)", res))
    matched = cand.where(overlap & (ref_cell == F.col("__cell")))

    helper = ["__tx0", "__ty0", "__tx1", "__ty1",
              "__cell", "__x0", "__y0", "__x1", "__y1"]
    # with a declared id the payload side stays distributed (AQE picks the
    # strategy); the default collected path is small by the byte guard
    right_j = right_i if vector_id_col is not None else F.broadcast(right_i)
    out = (matched.join(right_j, on="__ridx")
           .select(*tiles.columns, *vectors.columns,
                   *[F.col(c) for c in ("__tx0", "__ty0", "__tx1", "__ty1")]))

    if all_rect:
        # axis-aligned vector layer: bbox overlap IS the exact predicate
        return out.drop("__tx0", "__ty0", "__tx1", "__ty1")

    # general geometries: exact refine on candidate pairs only (extent
    # rectangle × geometry via the same kernel rs_intersects uses)
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def _extent_hits(x0: pd.Series, y0: pd.Series, x1: pd.Series,
                     y1: pd.Series, gb: pd.Series) -> pd.Series:
        outv = np.zeros(len(gb), dtype=bool)
        cache: dict[bytes, object] = {}
        for i, v in enumerate(gb):
            if v is None:
                continue
            raw = bytes(v)
            geom = cache.get(raw)
            if geom is None:
                geom = W.decode(raw)
                cache[raw] = geom
            ring = np.array([[x0[i], y0[i]], [x1[i], y0[i]],
                             [x1[i], y1[i]], [x0[i], y1[i]],
                             [x0[i], y0[i]]])
            outv[i] = K.geom_intersects(("Polygon", [ring]), geom)
        return pd.Series(outv)

    return (out.where(_extent_hits(F.col("__tx0"), F.col("__ty0"),
                                   F.col("__tx1"), F.col("__ty1"),
                                   F.col(geom_col)))
               .drop("__tx0", "__ty0", "__tx1", "__ty1"))
