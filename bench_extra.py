#!/usr/bin/env python
"""Extra benchmarks for optimization work (guide §1.4): NOT the official
bench — bench.py stays frozen.  Modes:

  python bench_extra.py phases     # per-query construct vs execute split
  python bench_extra.py explain QUERY...   # dump .explain('formatted')
  python bench_extra.py noop QUERY...      # noop-sink isolation timing
  python bench_extra.py jobs QUERY         # count Spark jobs in the query
  python bench_extra.py pyfloor            # fixed cost of a Python task
  python bench_extra.py rejoin [N]         # N joins of fresh ice-table
                                           # probes against one layer, and
                                           # N lon/lat joins against the
                                           # 264-region mixed layer
  python bench_extra.py leaves [N]         # the 264-region world layer's
                                           # leaf table, and the median of
                                           # N 4M-page coveredby joins

Reads $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def get_session():
    from sedona_db_spark.session import get_spark
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def pyfloor(spark, reps: int = 9) -> dict:
    """Fixed cost of a Python task, from outside the benchmark harness:

    - ``submit_to_user_code_s``: median wall time from the driver
      submitting a 1-row ``mapInPandas`` job to its function starting on
      the worker (same host, same clock);
    - ``noop_mapinpandas_s``: median wall time of a ``mapInPandas`` that
      drops every row, over one row per core, once each worker has run
      a package UDF;
    - ``worker_zipimporters``: ``zipimporter`` entries in the worker's
      ``sys.path_importer_cache``, each of which Python < 3.12 re-reads
      whenever the worker calls ``importlib.invalidate_caches()``.

    The probe touches the package, as every engine UDF does on unpickle,
    so the worker runs with the package imported."""
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    from sedona_db_spark.geometry import wkb as W

    def probe(batches):
        import zipimport
        t_user = time.time()
        W.wkt_to_wkb("POINT (0 0)")
        for _ in batches:
            pass
        zips = sum(isinstance(v, zipimport.zipimporter)
                   for v in sys.path_importer_cache.values())
        yield pd.DataFrame({
            "t_user": [t_user], "zips": [zips],
            "impl": [zipimport.zipimporter.invalidate_caches.__module__]})

    schema = StructType([StructField("t_user", DoubleType()),
                         StructField("zips", LongType()),
                         StructField("impl", StringType())])
    one = spark.range(0, 1, numPartitions=1)
    one.mapInPandas(probe, schema).collect()   # start a worker
    lags = []
    for _ in range(reps):
        t0 = time.time()
        row = one.mapInPandas(probe, schema).collect()[0]
        lags.append(row["t_user"] - t0)

    def empty(batches):
        for b in batches:
            yield b.iloc[:0]
    cores = spark.sparkContext.defaultParallelism
    rows = spark.range(0, cores, numPartitions=cores)
    # every worker has run a package UDF, as in a session after a join
    rows.mapInPandas(probe, schema).collect()
    noop = []
    for _ in range(reps):
        t0 = time.perf_counter()
        rows.mapInPandas(empty, rows.schema).collect()
        noop.append(time.perf_counter() - t0)
    return {"python": sys.version.split()[0],
            "submit_to_user_code_s": round(statistics.median(lags), 4),
            "noop_mapinpandas_s": round(statistics.median(noop), 4),
            "worker_zipimporters": int(row["zips"]),
            "worker_invalidate_caches": row["impl"]}


def rejoin(spark, n: int = 6):
    """Driver construct cost of a repeated broadcast join, per join.

    Each of ``n`` joins commits 250 fresh polygon parcels to a new ice
    table, reads it back through a bbox window (new files, so every
    probe-side memo misses) and joins it ``intersects`` with one fixed
    600-polygon layer.  Each also builds a lon/lat ``coveredby`` join of
    one fixed point frame with the 264-region mixed rect + 12-gon layer
    (``pages_pip``'s shape, the all-JVM tier).  Prints one JSON line per
    join: the Spark jobs started while the DataFrame was built,
    ``construct_s``, ``execute_s`` and the pair count, then the lon/lat
    join's ``pip_construct_jobs`` and ``pip_construct_s``."""
    import tempfile
    import numpy as np
    import pandas as pd
    from sedona_db_spark.operators import spatial_join
    from sedona_db_spark.sources import icetable
    from sedona_db_spark.sources.fixtures import random_polygons, regions_grid
    zones = random_polygons(600, seed=7999, size=(0.4, 1.5), hole_rate=0.2,
                            bounds=(0.0, 0.0, 40.0, 20.0))
    layer = spark.createDataFrame(
        zones.rename(columns={"geometry": "geom", "id": "zone_id"})
        [["zone_id", "geom"]])
    regions = spark.createDataFrame(regions_grid(
        n_side=16, bounds=(-180.0, -85.0, 180.0, 85.0), metro_hotspots=8))
    rng = np.random.default_rng(7)
    points = spark.createDataFrame(pd.DataFrame(
        {"lon": rng.uniform(-180, 180, 1000), "lat": rng.uniform(-85, 85, 1000)}))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    with tempfile.TemporaryDirectory(prefix="rejoin-") as tmp:
        for k in range(n):
            parcels = random_polygons(250, seed=k, size=(0.1, 0.35),
                                      bounds=(0.5, 0.5, 19.5, 19.5))
            path = os.path.join(tmp, f"ice-{k}")
            icetable.create(spark, path, spark.createDataFrame(
                parcels.rename(columns={"geometry": "geom",
                                        "id": "parcel_id"})
                [["parcel_id", "geom"]]), geom_col="geom")
            probe = icetable.read(spark, path, bbox=(0.0, 0.0, 20.0, 20.0))
            group = f"rejoin-{k}-construct"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            df = spatial_join(probe, layer, "intersects").select(
                "parcel_id", "zone_id")
            t1 = time.perf_counter()
            sc.setJobGroup(f"rejoin-{k}-execute", "execute")
            pairs = len(df.collect())
            t2 = time.perf_counter()
            pip_group = f"rejoin-{k}-pip-construct"
            sc.setJobGroup(pip_group, pip_group)
            t3 = time.perf_counter()
            spatial_join(points, regions, "coveredby",
                         left_lonlat=("lon", "lat"), right_geom="geom")
            t4 = time.perf_counter()
            print(json.dumps({
                "join": k,
                "construct_jobs": len(tracker.getJobIdsForGroup(group) or []),
                "construct_s": round(t1 - t0, 3),
                "execute_s": round(t2 - t1, 3),
                "pairs": pairs,
                "pip_construct_jobs": len(
                    tracker.getJobIdsForGroup(pip_group) or []),
                "pip_construct_s": round(t4 - t3, 3)}), flush=True)


def leaves(spark, n: int = 5) -> dict:
    """The all-JVM tier's leaf refine on ``pages_pip``'s layer: the
    264-region world layer of 256 rects and 8 metro 12-gons.

    Prints the coarse join resolution and the fine leaf level, the
    refined coarse cells, the leaf rows by kind, the most local edges and
    toggles in any EDGE leaf, whether the side fell back to the lambda
    refine (and why), and whether the cell join runs in whole-stage
    codegen.  Then times ``n`` warm lon/lat ``coveredby`` joins of 4M
    synthetic pages with that layer, each counted per region and
    collected, and prints their median (after the untimed join whose
    plan it reads)."""
    from sedona_db_spark.operators import memo, spatial_join
    from sedona_db_spark.sources.fixtures import regions_grid
    from sedona_db_spark.webtext import pages_to_points, synth_pages
    regions = spark.createDataFrame(regions_grid(
        n_side=16, bounds=(-180.0, -90.0, 180.0, 90.0), metro_hotspots=8))
    pages = pages_to_points(synth_pages(spark, 4_000_000)).select(
        "url", "lon", "lat", "geom")

    def join():
        df = spatial_join(pages, regions, "coveredby",
                          left_lonlat=("lon", "lat"), right_geom="geom"
                          ).groupBy("region_id").count()
        df.collect()
        return df
    plan = join()._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    cell_join = next((ln for ln in final.splitlines()
                      if "BroadcastHashJoin [__cell" in ln), "")
    out = {"cell_join_codegen": cell_join.lstrip(" :+-").startswith("*(")}
    side = next(reversed(memo._BUILD_SIDES.values()))[1]
    res = next(k[1] for k in side.derived if k[0] == "leaves")
    lv = side.leaf_table(res)
    out.update(res=res, fine_res=lv.fine_res, refined_cells=len(lv.refined),
               leaves=lv.counts, max_edges=lv.max_edges,
               max_toggles=lv.max_toggles, fell_back=lv.reason is not None,
               reason=lv.reason)
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        join()
        times.append(time.perf_counter() - t0)
    out.update(latency_s=[round(t, 3) for t in times],
               median_s=round(statistics.median(times), 3))
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mode = sys.argv[1] if len(sys.argv) > 1 else "phases"
    names = sys.argv[2:]

    if mode == "pyfloor":
        spark = get_session()
        print(json.dumps(pyfloor(spark)))
        spark.stop()
        return
    if mode == "rejoin":
        spark = get_session()
        rejoin(spark, int(names[0]) if names else 6)
        spark.stop()
        return
    if mode == "leaves":
        spark = get_session()
        print(json.dumps(leaves(spark, int(names[0]) if names else 5)))
        spark.stop()
        return

    from sedona_db_spark.plans.demo_queries import QUERIES
    from bench import HEADLINE
    spark = get_session()
    # warm-up
    QUERIES["geocode_cells"](spark, sf_dir).count()

    if mode == "phases":
        targets = names or HEADLINE
        out = {}
        for name in targets:
            best = None
            for _ in range(2):
                t0 = time.time()
                df = QUERIES[name](spark, sf_dir)
                t1 = time.time()
                df.count()
                t2 = time.time()
                spark.catalog.clearCache()
                rec = {"construct": round(t1 - t0, 3),
                       "execute": round(t2 - t1, 3),
                       "total": round(t2 - t0, 3)}
                if best is None or rec["total"] < best["total"]:
                    best = rec
            out[name] = best
            print(name, best, flush=True)
        print(json.dumps(out))
    elif mode == "explain":
        for name in names:
            df = QUERIES[name](spark, sf_dir)
            print(f"==== {name} ====")
            print(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
    elif mode == "noop":
        for name in names:
            df = QUERIES[name](spark, sf_dir)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            print(name, "noop_sec", round(time.time() - t0, 3))
    elif mode == "jobs":
        sc = spark.sparkContext
        st = sc.statusTracker()
        for name in names:
            before = set(st.getJobIdsForGroup() or [])
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.time()
            df.count()
            t2 = time.time()
            jobs = [j for j in (st.getJobIdsForGroup() or []) if j not in before]
            stages = 0
            for j in jobs:
                ji = st.getJobInfo(j)
                if ji:
                    stages += len(ji.stageIds)
            print(f"{name}: jobs={len(jobs)} stages={stages} "
                  f"construct={t1-t0:.3f}s execute={t2-t1:.3f}s")


if __name__ == "__main__":
    main()
