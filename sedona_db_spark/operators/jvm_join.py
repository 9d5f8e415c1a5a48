"""The all-JVM broadcast tier of ``spatial_join`` (``jvm``)."""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F

from sedona_db_spark import grid
from sedona_db_spark.operators import leaf_refine as LR


def _distance(col: str) -> Column:
    """A distance column with NaN as NULL: Spark ranks NaN above every
    number (``x <= NaN`` holds), while a NaN distance, like a NULL one,
    matches nothing."""
    return F.when(~F.isnan(F.col(col)), F.col(col))


def _distance_bounds(predicate: str, pad: float, ldist_col) -> tuple:
    """The leaf table's distance bounds: under dwithin (pad, dmin), the
    largest distance a probe carries and the smallest that can match (a
    literal distance, or 0 for a probe column: a negative distance
    matches nothing); else ()."""
    if predicate != "dwithin":
        return ()
    return pad, pad if ldist_col is None else 0.0


def _jvm_join(left: DataFrame, plan) -> DataFrame:
    """All-JVM broadcast spatial join: the probe's cell key joins a
    broadcast table of the build side's rows per cell, the refine runs in
    the JVM, and the payload comes back by row index (``right_i`` carries
    __ridx; the payload never visits the driver).  At 100 TB the probe
    side streams through BroadcastHashJoins; nothing shuffles or
    collects.

    The refine picks its arithmetic per build row, as the reference's
    broadcast probe picks a prepared refiner per build geometry
    (rust/sedona-spatial-join/src/index/):

    - box rows (rects and points) take exact point-vs-box intervals:
      intersects/coveredby = closed box, within = open box, dwithin =
      clamp distance ≤ d;
    - every other row takes the leaf refine (``leaf_refine``;
      ``_BuildSide.leaf_table``): the key is a finer cell inside the
      coarse cells a boundary crosses, FULL leaves match with no test
      (under dwithin: when d reaches the pair's upper bound), and EDGE
      leaves join a table of slots and run a small lambda-free test above
      that join, so the whole cell join stays in whole-stage codegen.
      Under dwithin an EDGE pair the slot test leaves unmatched then
      takes a left semi join to its near edges, one row each, which
      keeps it when one lies within d.

    mark/left_semi/left_anti/left run as JVM semi/anti joins on the same
    broadcast table, the whole refine in the join condition: still zero
    Python, no finisher shuffle."""
    side, res, how, predicate = plan.side, plan.res, plan.how, plan.predicate
    right_i, rcols = side.right_i, plan.right.columns
    if plan.left_lonlat is not None:
        px, py = plan.left_lonlat
        l_cells = left
    else:  # an all-point WKB probe
        from sedona_db_spark.functions.scalar import st_x, st_y
        px, py = "__lon", "__lat"
        l_cells = (left.withColumn(px, st_x(F.col(plan.left_geom)))
                       .withColumn(py, st_y(F.col(plan.left_geom))))
    plon, plat = F.col(px), F.col(py)
    x0, y0, x1, y1 = (F.col(c) for c in ("__x0", "__y0", "__x1", "__y1"))
    closed = (plon >= x0) & (plon <= x1) & (plat >= y0) & (plat <= y1)
    box = ((plon > x0) & (plon < x1) & (plat > y0) & (plat < y1)
           if predicate == "within" else closed)
    sure, dexpr = F.lit(True), None
    if predicate == "dwithin":
        # a probe-side per-row distance stays a column (NaN as NULL)
        ldist_col, distance = plan.ldist_col, plan.distance
        if ldist_col is not None:
            # computed once per probe: the refine reads it many times
            l_cells = l_cells.withColumn("__d", _distance(ldist_col))
            d, dexpr = F.col("__d"), "__d"
        elif np.isnan(distance):
            d, dexpr = F.lit(None).cast("double"), "CAST(NULL AS DOUBLE)"
        else:
            d, dexpr = F.lit(float(distance)), repr(float(distance)) + "D"
        # euclidean distance to the box via coordinate clamping; the
        # others behind the kernel's bbox prefilter (geom_dwithin) and
        # the pair's distance bounds
        dx = F.greatest(x0 - plon, plon - x1, F.lit(0.0))
        dy = F.greatest(y0 - plat, plat - y1, F.lit(0.0))
        box = F.sqrt(dx * dx + dy * dy) <= d
        sure = d >= F.col("__dhi")
        near = F.expr(LR.near_test_sql(px, py, dexpr))
        closed = ((plon + d >= x0) & (x1 + d >= plon) & (plat + d >= y0)
                  & (y1 + d >= plat) & (d >= F.col("__dlo")))
    leaves = side.leaf_table(res, *_distance_bounds(predicate, plan.pad,
                                                    plan.ldist_col))
    # the coarse key is its own column: the CASE below reads it twice
    l_cells = l_cells.withColumn(
        "__ccell", F.expr(grid.cell_expr_sql(px, py, res)))
    key = F.col("__ccell")
    if leaves.refined:
        key = F.when(key.isin(leaves.refined), F.expr(
            grid.cell_expr_sql(px, py, leaves.fine_res))).otherwise(key)
    l_cells = l_cells.withColumn("__cell", key)
    kind = F.col("__kind")
    cond = (F.when(kind == LR.BOX, box)
            .when(kind == LR.FULL, sure).otherwise(closed))
    table, full = leaves.cells, cond
    if leaves.slots is not None:
        slot = F.expr(LR.slot_test_sql(px, py, leaves.max_edges,
                                       leaves.max_toggles,
                                       boundary=predicate != "within"))
        # under dwithin every leaf row keys a slot (the pass slot if
        # not EDGE): the slot join is inner, its columns never NULL
        join = "inner" if leaves.dwithin else "left"
        table, edge = table.join(leaves.slots, on="__slot", how=join), slot
        if leaves.dwithin:
            slot = sure | slot
            table = table.join(leaves.near.withColumnRenamed(
                "__nslot", "__slot"), on="__slot", how="left")
            edge = slot | near
        full = F.when(kind == LR.EDGE, closed & edge).otherwise(cond)
    if how in ("inner", "left"):
        cand = l_cells.join(F.broadcast(leaves.cells),
                            on="__cell").where(cond)
        if leaves.slots is not None:
            cand = cand.join(F.broadcast(leaves.slots), on="__slot",
                             how=join)
            hit = (kind != LR.EDGE) | slot
            if not leaves.dwithin:
                # the slot test filters ABOVE a left-outer slot join: on
                # an inner join Catalyst would merge it into the cell
                # join's condition, measured slower
                cand = cand.where(hit)
            else:
                # a pair that missed keys its slot's near edges, one
                # that matched the pass row: one row out at most (the
                # key is never NULL, or Catalyst would filter on it and
                # so generate the slot test twice)
                key = F.coalesce(F.when(hit, F.lit(LR.PASS))
                                 .otherwise(F.col("__slot")), F.lit(LR.PASS))
                cand = cand.withColumn("__slot", key).join(
                    F.broadcast(leaves.near),
                    (F.col("__slot") == F.col("__nslot"))
                    & ((F.col("__nslot") == LR.PASS) | near), "left_semi")

    if how in ("inner", "left"):
        pairs = (cand.join(F.broadcast(right_i), on="__ridx")
                 .select(*left.columns, *rcols))
        if how == "inner":
            return pairs
    rc = F.broadcast(table.withColumnRenamed("__cell", "__rcell"))
    jcond = (F.col("__cell") == F.col("__rcell")) & full
    if how in ("left_semi", "left_anti"):
        return l_cells.join(rc, jcond, how).select(*left.columns)
    anti = l_cells.join(rc, jcond, "left_anti").select(*left.columns)
    if how == "mark":
        semi = l_cells.join(rc, jcond, "left_semi").select(*left.columns)
        return (semi.withColumn("mark", F.lit(True))
                    .unionByName(anti.withColumn("mark", F.lit(False))))
    # left outer: matched pairs ∪ anti rows padded with NULL payload
    for c in rcols:
        anti = anti.withColumn(c, F.lit(None).cast(right_i.schema[c].dataType))
    return pairs.unionByName(anti)
