"""The cell tier of ``spatial_join``: a partition → refine join on grid
cells, for build sides too large to broadcast and the joins no broadcast
tier takes.  Phase 1 is a plain equi hash join on int64 cell keys (each
build row's exploded covering, each probe point's cell), so AQE handles
runtime skew and min-max pruning applies to stored cell columns; phase 2
refines candidate pairs with the vectorized scalar kernels.

Pair dedup: a point has exactly one cell per resolution → point-probe joins
produce each candidate pair at most once (no dedup shuffle).  When both
sides are exploded (polygon×polygon), each pair is emitted only in the
lexicographically-smallest shared cell ("report cell" trick) — the
stateless equivalent of the reference's Multi-partition dedup rule
(rust/sedona-spatial-join/src/partitioning.rs:59-77).

Skew: ``salt`` replicates each build-cell row k ways and scatters probe
rows across the replicas — bounded fanout of the small side in exchange
for k-way parallelism inside hot cells (dense metro tiles).
"""

from __future__ import annotations

import itertools
import threading

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from sedona_db_spark import grid
from sedona_db_spark.geometry import wkb as W
from sedona_db_spark.operators.build_side import cover_cells
from sedona_db_spark.operators.jvm_join import _distance

# covering caches persisted by the adaptive branch, released when more
# than _MAX_CACHED_COVERINGS accumulate (or via cleanup_cached_coverings)
# so long sessions don't leak cache; the small LRU window plus the lock
# keeps a concurrent join's still-in-flight covering cached
_PERSISTED_COVERINGS: list[DataFrame] = []
_PERSISTED_LOCK = threading.Lock()
_MAX_CACHED_COVERINGS = 4

MAX_HOT_CELLS = 4096


def cleanup_cached_coverings() -> None:
    """Unpersist any covering cache left behind by the adaptive join path."""
    with _PERSISTED_LOCK:
        for df in _PERSISTED_COVERINGS:
            try:
                df.unpersist()
            except Exception:
                pass
        _PERSISTED_COVERINGS.clear()


def _cover_udf(res: int, pad: float = 0.0, sphere_m: float | None = None,
               max_cells: int | None = None):
    """Pandas UDF of ``cover_cells`` over a WKB column, with an optional
    second column of per-row pads (dwithin distance_side=build: each
    build row's bbox widens by its own distance) in place of ``pad``."""
    # nondeterministic marker: stops Catalyst from re-evaluating the UDF a
    # second time under the join-key isnotnull filter it injects
    @pandas_udf(ArrayType(LongType()))
    def cover(b: pd.Series, *pads: pd.Series) -> pd.Series:
        out = []
        cache: dict = {}
        for v, p in zip(b, pads[0] if pads else itertools.repeat(pad)):
            key = None if v is None else (bytes(v), p)
            cells = cache.get(key)
            if cells is None:
                cells = [] if v is None else cover_cells(
                    W.decode(key[0]), res, p, sphere_m, max_cells).tolist()
                cache[key] = cells
            out.append(cells)
        return pd.Series(out)
    return cover.asNondeterministic()


def _cells_multilevel_udf(levels: list):
    """Point probe cells at each build-side covering level (heterogeneous
    layers only; one output row per level)."""
    lv = sorted(set(int(x) for x in levels))

    @pandas_udf(ArrayType(LongType()))
    def cells(b: pd.Series) -> pd.Series:
        x, y = W.wkb_to_points(b)
        per = [grid.cell_ids(x, y, l) for l in lv]
        return pd.Series([[int(per[j][i]) for j in range(len(lv))]
                          for i in range(len(x))])
    return cells.asNondeterministic()


def _cell_udf(res: int):
    @pandas_udf(LongType())
    def cell(b: pd.Series) -> pd.Series:
        x, y = W.wkb_to_points(b)
        return pd.Series(grid.cell_ids(x, y, res))
    return cell.asNondeterministic()


def _min_common_udf(res: int):
    """The smallest cell both geometries' coverings at ``res`` share, or
    -1: the one cell an exploded × exploded pair is reported in."""
    @pandas_udf(LongType())
    def min_common(b1: pd.Series, b2: pd.Series) -> pd.Series:
        out = np.empty(len(b1), dtype=np.int64)
        cache: dict[bytes, np.ndarray] = {}

        def cover(v):
            raw = bytes(v)
            c = cache.get(raw)
            if c is None:
                c = cache[raw] = cover_cells(W.decode(raw), res)
            return c
        for i, (v1, v2) in enumerate(zip(b1, b2)):
            common = np.intersect1d(cover(v1), cover(v2))
            out[i] = common.min() if len(common) else -1
        return pd.Series(out)
    return min_common


def _bbox_stats(df: DataFrame, geom_col: str, sample_cap: int = 50_000,
                n: int | None = None) -> dict:
    """Build-side statistics: exact count (JVM columnar, cheap) + mean bbox
    extent from a bounded sample (the bbox UDF is a python pass — never run
    it over a huge dimension table just for stats).

    Analogue of the reference's build-side AnalyzeAccumulator + bbox sampler
    (rust/sedona-spatial-join/src/index/build_side_collector.rs:31-219,
    partitioning/bbox_sampler.rs).

    ``n``: pass a row count already known from ``_count_bytes_stats`` to
    skip the count job (the broadcast-ineligible grid path pays one stats
    job here instead of two).
    """
    from sedona_db_spark.functions.scalar import st_xmin, st_xmax, st_ymin, st_ymax
    if n is None:
        n = df.count()
    sampled = df.select(geom_col)
    if n > sample_cap:
        sampled = sampled.sample(False, sample_cap / n, seed=7)
    r = sampled.select(
        F.avg(st_xmax(F.col(geom_col)) - st_xmin(F.col(geom_col))).alias("w"),
        F.avg(st_ymax(F.col(geom_col)) - st_ymin(F.col(geom_col))).alias("h"),
        F.avg(F.length(F.col(geom_col))).alias("b"),
    ).collect()[0]
    return {"n": n, "w": r["w"] or 0.0, "h": r["h"] or 0.0,
            "geom_bytes": n * float(r["b"] or 0.0)}


def _auto_hot_cells(l_cells: DataFrame, hot_factor: float = 4.0,
                    sample_frac: float = 0.05,
                    cap: int = MAX_HOT_CELLS) -> list:
    """Hot probe-side cells for salt="auto", computed IN the Spark job.

    Round-6 fix: the old path collected the full sampled per-cell
    histogram to the driver — bounded only by distinct-cell count, which
    at planet scale with a fine resolution is millions of rows.  Now the
    count > hot_factor x mean filter and a heaviest-``cap`` LIMIT run
    job-side, so the collect returns at most ``cap`` cell ids.  A hot
    cell beyond the cap stays unsalted — still correct (AQE skew-join
    backstops it), just not pre-split."""
    cnt = (l_cells.sample(False, sample_frac, seed=7)
           .groupBy("__cell").count())
    return [r["__cell"] for r in
            (cnt.crossJoin(F.broadcast(
                 cnt.agg(F.avg("count").alias("__mean"))))
             .filter(F.col("count") > hot_factor * F.col("__mean"))
             .orderBy(F.col("count").desc())
             .limit(cap)
             .select("__cell").collect())]


def _salted(l_cells: DataFrame, r_cells: DataFrame, salt, lcol: str):
    """Both sides' cell rows with a ``__salt`` key where ``salt`` asks for
    one, and the join keys."""
    if salt == "auto":
        # adaptive hot-cell salting: sample the probe side's cell histogram,
        # replicate the build rows of hot cells K ways and scatter only the
        # probe rows that land in them (cold cells pay nothing).  The
        # sampling mirrors the reference's bbox sampler for KDB partitioning
        # (rust/sedona-spatial-join/src/partitioning/bbox_sampler.rs).
        K_SALT = 8
        hot = _auto_hot_cells(l_cells, hot_factor=4.0)
        if not hot:
            return l_cells, r_cells, ["__cell"]
        spark = l_cells.sparkSession
        hot_df = F.broadcast(
            spark.createDataFrame([(int(c),) for c in hot], "__cell long")
            .withColumn("__hot", F.lit(True)))
        r_cells = (r_cells.join(hot_df, on="__cell", how="left")
                   .withColumn("__salt", F.explode(F.when(
                       F.col("__hot").isNotNull(),
                       F.array([F.lit(i) for i in range(K_SALT)]))
                       .otherwise(F.array(F.lit(0)))))
                   .drop("__hot"))
        l_cells = (l_cells.join(hot_df, on="__cell", how="left")
                   .withColumn("__salt", F.when(
                       F.col("__hot").isNotNull(),
                       F.pmod(F.xxhash64(F.col(lcol)), F.lit(K_SALT))
                        .cast("int")).otherwise(F.lit(0)))
                   .drop("__hot"))
        return l_cells, r_cells, ["__cell", "__salt"]
    if isinstance(salt, int) and salt > 1:
        r_cells = r_cells.withColumn(
            "__salt", F.explode(F.array([F.lit(i) for i in range(salt)])))
        l_cells = l_cells.withColumn(
            "__salt", (F.pmod(F.xxhash64(F.col(lcol)), F.lit(salt))).cast("int"))
        return l_cells, r_cells, ["__cell", "__salt"]
    return l_cells, r_cells, ["__cell"]


def _explode_cover(df: DataFrame, cover, tmp: str) -> DataFrame:
    return (df.withColumn(tmp, cover).withColumn("__cell", F.explode(tmp))
            .drop(tmp))


def _refine_condition(plan):
    """The exact predicate over a candidate pair's geometry columns."""
    from sedona_db_spark.functions import scalar as S
    from sedona_db_spark.functions import scalar4 as S4
    predicate, distance = plan.predicate, plan.distance
    lg, rg = F.col(plan.left_geom), F.col(plan.rgeom)
    if predicate == "dwithin":
        if plan.ldist_col is not None:
            dcol = _distance(plan.ldist_col)
        elif plan.dist_col is not None:
            dcol = _distance(plan.dist_col)
        elif isinstance(distance, (int, float)):
            dcol = F.lit(float(distance))
        else:
            dcol = distance
        return S.st_dwithin(lg, rg, dcol)
    if predicate == "dwithin_sphere":
        from sedona_db_spark.functions.scalar2 import st_distancesphere
        return st_distancesphere(lg, rg) <= F.lit(float(distance))
    if predicate == "intersects_sphere":
        from sedona_db_spark.functions.scalar2 import st_intersectssphere
        return st_intersectssphere(lg, rg)
    if predicate == "relate":
        return S4.st_relate_pattern(lg, rg, F.lit(plan.pattern))
    # the relation predicates' DE-9IM kernels live in scalar4
    mod = S4 if predicate in ("touches", "crosses", "overlaps") else S
    return getattr(mod, "st_" + predicate)(lg, rg)


def _cell_join(left: DataFrame, plan):
    """The cell tier: the matched pairs of an inner join at ``plan.res``,
    with the probe and build frames their columns come from (a lon/lat
    probe gains its point geometry column for the refine)."""
    right, res, pad, predicate = plan.right, plan.res, plan.pad, plan.predicate
    left_geom, rgeom, exploded = plan.left_geom, plan.rgeom, plan.probe_exploded
    lcols, rcols = list(left.columns), list(right.columns)
    sphere = predicate.endswith("_sphere")
    padded = pad != 0.0 or plan.dist_col is not None or sphere

    # padded exploded-left pairs dedupe on synthetic row ids after the refine
    # (values won't do: duplicate input rows are distinct pairs); ids are
    # created once and flow through a single linear plan, never self-joined
    # sphere covers are cap/bulge-padded, so the min-common-cell rule can
    # name a cell the unpadded left cover never joins in — dedupe on row
    # identity for any *_sphere predicate too
    need_row_ids = exploded and padded
    if need_row_ids:
        left = left.withColumn("__lid", F.monotonically_increasing_id())
        right = right.withColumn("__rid", F.monotonically_increasing_id())

    # ---- phase 1: cell keys -------------------------------------------------
    levels = [res]  # build-side covering levels (adaptive branch overrides)
    if sphere:
        d_cover = float(plan.distance) if predicate == "dwithin_sphere" else 0.0
        r_cells = _explode_cover(right, _cover_udf(res, sphere_m=d_cover)(
            F.col(rgeom)), "__cells_r")
    elif plan.dist_col is not None:
        r_cells = _explode_cover(right, _cover_udf(res)(
            F.col(rgeom), F.col(plan.dist_col)), "__cells_r")
    elif not exploded:
        # ADAPTIVE per-geometry resolution (north-rule "adaptive cell
        # splitting"): a continent-sized geometry in a layer of parcels
        # covers at a COARSER level (fanout bounded by max_cells) while
        # small geometries keep the fine level's pruning power.  The cell
        # id embeds its res in the high bits, so mixed-level keys never
        # collide; point probes emit one cell per level PRESENT on the
        # build side (one extra probe row per extra level — zero when the
        # layer is homogeneous, the common case).  The exploded-left path
        # keeps a single res (its min-common-cell dedup needs one level).
        r_cells = right.withColumn(
            "__cells_r", _cover_udf(res, pad, max_cells=64)(F.col(rgeom)))
        # persist the pre-explode coverings: the level scan below and the
        # join both read them.  Coverings cached by OLDER joins are
        # released once more than _MAX_CACHED_COVERINGS are alive; an
        # evicted join whose output was never materialized just
        # recomputes its covering.
        r_cells = r_cells.persist(StorageLevel.MEMORY_AND_DISK)
        with _PERSISTED_LOCK:
            _PERSISTED_COVERINGS.append(r_cells)
            while len(_PERSISTED_COVERINGS) > _MAX_CACHED_COVERINGS:
                stale = _PERSISTED_COVERINGS.pop(0)
                try:
                    stale.unpersist()
                except Exception:
                    pass
        levels = [int(r[0]) for r in
                  (r_cells.where(F.size("__cells_r") > 0)
                   .select(F.shiftright(F.element_at("__cells_r", 1),
                                        grid._RES_SHIFT).alias("__lv"))
                   .distinct().collect())]
        levels = sorted(levels) or [res]
        r_cells = r_cells.withColumn(
            "__cell", F.explode("__cells_r")).drop("__cells_r")
    else:
        r_cells = _explode_cover(right, _cover_udf(res, pad)(F.col(rgeom)),
                                 "__cells_r")

    # probe side: points get a single vectorized cell; general geometries
    # explode coverings and dedupe via the min-common-cell rule below
    if exploded:
        # geodesic edges bulge poleward past the planar vertex bbox, so a
        # planar cover on the probe side can miss true pairs (e.g. a long
        # east-west line at lat 80 whose great-circle arc reaches lat
        # ~88); use the bulge-padded sphere cover (d=0 — the distance
        # padding already lives on the build side), and row-id dedup
        # (need_row_ids above) absorbs the padded multi-cover.
        l_cover = _cover_udf(res, sphere_m=0.0 if sphere else None)
        l_cells = _explode_cover(left, l_cover(F.col(left_geom)), "__cells_l")
    elif plan.left_lonlat is not None:
        # raw lon/lat: the cell key is a pure JVM expression (codegen, no
        # Python round-trip); same formula as grid.cell_expr_sql oracles
        lon_c, lat_c = plan.left_lonlat
        if left_geom not in left.columns:
            from sedona_db_spark.functions.scalar import st_point
            left = left.withColumn(left_geom, st_point(F.col(lon_c), F.col(lat_c)))
            lcols = list(left.columns)
        if len(levels) == 1:
            l_cells = left.withColumn(
                "__cell", F.expr(grid.cell_expr_sql(lon_c, lat_c, levels[0])))
        else:
            l_cells = left.withColumn("__cell", F.explode(F.array(*[
                F.expr(grid.cell_expr_sql(lon_c, lat_c, lv))
                for lv in levels])))
    elif len(levels) == 1:
        l_cells = left.withColumn(
            "__cell", _cell_udf(levels[0])(F.col(left_geom)))
    else:
        l_cells = left.withColumn("__cell", F.explode(
            _cells_multilevel_udf(levels)(F.col(left_geom))))

    l_cells, r_cells, join_keys = _salted(l_cells, r_cells, plan.salt,
                                          lcols[0])
    build = F.broadcast(r_cells) if plan.broadcast_cells else r_cells
    cand = l_cells.join(build, on=join_keys, how="inner")
    if exploded and not padded:
        # emit each pair only in the smallest cell both coverings share
        cand = cand.where(F.col("__cell") == _min_common_udf(res)(
            F.col(left_geom), F.col(rgeom)))

    # ---- phase 2: exact refinement ------------------------------------------
    cond = _refine_condition(plan)
    if plan.extra_condition is not None:
        cond = cond & plan.extra_condition
    matched = cand.where(cond)
    if need_row_ids:
        # padded right covers don't align with the unpadded left covers,
        # so the min-common-cell rule can name a cell the pair never
        # joins in; dedup on synthetic row identities after the refine,
        # not row VALUES: two genuinely duplicate input rows are distinct
        # pairs and must both survive
        matched = matched.dropDuplicates(["__lid", "__rid"])
        left, right = left.drop("__lid"), right.drop("__rid")
    return left, right, matched.select(*lcols, *rcols)
