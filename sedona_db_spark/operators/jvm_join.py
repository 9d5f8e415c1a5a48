"""The all-JVM broadcast tiers of ``spatial_join`` (``jvm_leaf`` and
``jvm_lambda``), and the lambda refine over edge arrays."""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StructField,
                               StructType)

from sedona_db_spark import grid
from sedona_db_spark.operators import leaf_refine as LR

_EDGES = ArrayType(StructType([StructField(c, DoubleType())
                               for c in ("ax", "ay", "bx", "by")]))
# the lambda refine's cell table: (cell, build row, bbox, edge arrays)
_CELL_TABLE = StructType(
    [StructField("__cell", LongType()), StructField("__ridx", LongType())]
    + [StructField(c, DoubleType()) for c in ("__x0", "__y0", "__x1", "__y1")]
    + [StructField("__parts", ArrayType(StructType([
        StructField("shell", _EDGES), StructField("holes", ArrayType(_EDGES)),
        StructField("edges", _EDGES)])))])


def _distance(col: str) -> Column:
    """A distance column with NaN as NULL: Spark ranks NaN above every
    number (``x <= NaN`` holds), while a NaN distance, like a NULL one,
    matches nothing."""
    return F.when(~F.isnan(F.col(col)), F.col(col))


def _geom_edge_parts(g) -> list:
    """(shell_edges, hole_edge_lists, all_edges) triples for the JVM HOF
    refine.  Non-areal geometries carry everything in ``all_edges`` with an
    empty shell (crossing count 0 → never 'inside'; the on-edge /
    point-to-segment terms decide).  Points become zero-length edges, whose
    on-edge test degenerates to the kernel's EXACT coordinate equality and
    whose segment distance degenerates to point distance."""
    name = g[0]
    if name == "Polygon" or name == "MultiPolygon":
        out = []
        for rings in ([g[1]] if name == "Polygon" else g[1]):
            ring_edges = [LR.ring_edges(r) for r in rings]
            shell = ring_edges[0] if ring_edges else []
            out.append((shell, ring_edges[1:],
                        [e for es in ring_edges for e in es]))
        return out
    if name == "LineString":
        return [([], [], LR.path_edges(g[1]))]
    if name == "MultiLineString":
        return [([], [], LR.path_edges(l)) for l in g[1]]
    if name == "Point":
        x, y = float(g[1][0]), float(g[1][1])
        return [([], [], [(x, y, x, y)])]
    if name == "MultiPoint":
        return [([], [], [(float(r[0]), float(r[1]),
                           float(r[0]), float(r[1])) for r in g[1]])]
    raise ValueError(name)


def _pip_refine_sql(px: str, py: str, parts_col: str, boundary: bool) -> str:
    """SQL HOF expression for point-in-(Multi)Polygon over the nested edge
    arrays of ``parts_col``, arithmetically IDENTICAL to the numpy kernel
    (kernels.points_in_ring / points_in_polygon):

    - crossing toggle: (ay > py) != (by > py) AND px < (bx-ax)*(py-ay)/(by-ay)+ax
      (same op order → same IEEE rounding), XOR over edges ≡ sum mod 2;
    - polygon = odd(shell) AND NOT odd(any hole), per part;
    - on-edge: bbox gate + |cross| < 1e-12 * max(1, |dx|+|dy|);
    - boundary=True  (covers/coveredby/intersects): in OR on-edge;
      boundary=False (within): in AND NOT on-edge (kernel
      boundary_counts=False — interior of some part).
    """
    cross = ("aggregate({r}, 0, (acc, e) -> acc + IF((e.ay > %(py)s) != "
             "(e.by > %(py)s) AND %(px)s < (e.bx - e.ax) * (%(py)s - e.ay)"
             " / (e.by - e.ay) + e.ax, 1, 0)) %% 2 = 1"
             ) % {"px": px, "py": py}
    shell_in = cross.format(r="p.shell")
    hole_in = "exists(p.holes, h -> " + cross.format(r="h") + ")"
    on_edge = (
        "exists(p.edges, e -> "
        f"{px} >= least(e.ax, e.bx) AND {px} <= greatest(e.ax, e.bx) AND "
        f"{py} >= least(e.ay, e.by) AND {py} <= greatest(e.ay, e.by) AND "
        f"abs((e.bx - e.ax) * ({py} - e.ay) - (e.by - e.ay) * ({px} - e.ax))"
        " < 1e-12 * greatest(1.0D, abs(e.bx - e.ax) + abs(e.by - e.ay)))")
    if boundary:
        body = f"((({shell_in}) AND NOT ({hole_in})) OR ({on_edge}))"
    else:
        body = f"(({shell_in}) AND NOT ({hole_in}) AND NOT ({on_edge}))"
    return f"exists({parts_col}, p -> {body})"


def _dwithin_refine_sql(px: str, py: str, parts_col: str, dexpr: str) -> str:
    """SQL HOF for ST_DWithin(point, geom, d): boundary-inclusive inside
    (distance 0, so only for d ≥ 0: a NULL or negative d matches nothing,
    as in the numpy kernels and the box refine) OR some edge at
    point-to-segment distance ≤ d — mirrors
    kernels.points_to_geom_distance / points_seg_dist (same clamp-projection
    op order; ``hypot`` both sides; zero-length edges take the plain point
    distance branch)."""
    ll = "((e.bx - e.ax) * (e.bx - e.ax) + (e.by - e.ay) * (e.by - e.ay))"
    t = (f"least(greatest((({px} - e.ax) * (e.bx - e.ax) + "
         f"({py} - e.ay) * (e.by - e.ay)) / {ll}, 0.0D), 1.0D)")
    seg = (f"CASE WHEN {ll} = 0.0D THEN hypot({px} - e.ax, {py} - e.ay) "
           f"ELSE hypot({px} - (e.ax + {t} * (e.bx - e.ax)), "
           f"{py} - (e.ay + {t} * (e.by - e.ay))) END")
    near = f"exists({parts_col}, p -> exists(p.edges, e -> {seg} <= {dexpr}))"
    inside = _pip_refine_sql(px, py, parts_col, boundary=True)
    return f"((({dexpr}) >= 0.0D AND ({inside})) OR ({near}))"


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
    - on ``jvm_leaf`` every other row takes the leaf refine
      (``leaf_refine``; ``_BuildSide.leaf_table``): the key is a finer
      cell inside the coarse cells a boundary crosses, FULL leaves match
      with no test, and EDGE leaves join a table of slots and run a small
      lambda-free test above that join, so the whole cell join stays in
      whole-stage codegen;
    - on ``jvm_lambda`` every other row takes the crossing-number /
      on-edge / segment-distance higher-order-function refine over its
      edge arrays (``_BuildSide.cell_table``), arithmetically identical
      to the numpy kernels; behind the row's closed bbox, except under
      ``dwithin``.

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
    if plan.tier == "jvm_leaf":
        leaves = side.leaf_table(res)
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
                .when(kind == LR.FULL, F.lit(True)).otherwise(closed))
        table, full = leaves.cells, cond
        if leaves.slots is not None:
            slot = F.expr(LR.slot_test_sql(px, py, leaves.max_edges,
                                           leaves.max_toggles,
                                           boundary=predicate != "within"))
            full = F.when(kind == LR.EDGE, closed & slot).otherwise(cond)
            table = table.join(leaves.slots, on="__slot", how="left")
        if how in ("inner", "left"):
            cand = l_cells.join(F.broadcast(leaves.cells),
                                on="__cell").where(cond)
            if leaves.slots is not None:
                # the slot test filters ABOVE a left-outer slot join: on
                # an inner join Catalyst would merge it into the cell
                # join's condition, measured slower
                cand = (cand.join(F.broadcast(leaves.slots), on="__slot",
                                  how="left")
                        .where((kind != LR.EDGE) | slot))
    else:
        l_cells = l_cells.withColumn(
            "__cell", F.expr(grid.cell_expr_sql(px, py, res)))
        table = side.cell_table(res, plan.pad)
        if predicate == "dwithin":
            # euclidean distance to the box via coordinate clamping; a
            # probe-side per-row distance stays a column (NaN as NULL)
            dx = F.greatest(x0 - plon, plon - x1, F.lit(0.0))
            dy = F.greatest(y0 - plat, plat - y1, F.lit(0.0))
            ldist_col, distance = plan.ldist_col, plan.distance
            if ldist_col is not None:
                d = _distance(ldist_col)
                dexpr = f"IF(isnan({ldist_col}), NULL, {ldist_col})"
            elif np.isnan(distance):
                d, dexpr = F.lit(None).cast("double"), "CAST(NULL AS DOUBLE)"
            else:
                d, dexpr = F.lit(float(distance)), repr(float(distance)) + "D"
            box = F.sqrt(dx * dx + dy * dy) <= d
            edges = F.expr(_dwithin_refine_sql(px, py, "__parts", dexpr))
        else:
            edges = closed & F.expr(_pip_refine_sql(
                px, py, "__parts", boundary=predicate != "within"))
        full = cond = F.when(F.col("__parts").isNull(), box).otherwise(edges)
        if how in ("inner", "left"):
            cand = l_cells.join(F.broadcast(table), on="__cell").where(cond)

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
