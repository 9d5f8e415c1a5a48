"""The closed-loop workloads.

Each workload prepares its inputs from the seed, warms up, and then runs
whole rounds of identical operations, one at a time, from the single
driver thread.  An operation is timed from the call into the engine to
the result on the driver.  Outputs are kept so that ``check`` can compare
them with the independent computations in ``checks.py`` after the timed
phase.
"""

from __future__ import annotations

import os
import struct
import time

import numpy as np

import checks
from harness import median, plan_metrics, tree_cpu_s

WORLD = (-180.0, -85.0, 180.0, 85.0)


class Op:
    """One timed operation and what the traced run learned about it."""

    def __init__(self, name: str):
        self.name = name
        self.latency = 0.0
        self.failed = False
        self.output = None
        self.join_rows = None      # confirmed join rows, for join operations
        self.join_s = 0.0          # time of the join itself
        self.join_cpu_s = 0.0      # CPU seconds of the process tree in it
        self.layer: dict = {}


class Workload:
    name = ""

    def __init__(self, spark, seed: int, tracer, jobs, work_dir: str, cpus: int):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.jobs = jobs                   # None in the untraced run
        self.work_dir, self.cpus = work_dir, cpus

    def _timed_join(self, op: Op, build):
        """Construct and collect one DataFrame; in the traced run also count
        the Spark jobs of each phase and read the final plan's metrics.
        Returns the rows, the wall time and the process tree's CPU time."""
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        if self.jobs is not None:
            g_build = self.jobs.group(f"{op.name}-construct")
        with self.tracer.span("construct", op.name):
            df = build()
        t1 = time.perf_counter()
        if self.jobs is not None:
            g_exec = self.jobs.group(f"{op.name}-execute")
        with self.tracer.span("execute", op.name):
            rows = df.toPandas()
        t2 = time.perf_counter()
        cpu_s = tree_cpu_s() - c0
        if self.jobs is not None:
            op.layer.update(plan_metrics(df))
            op.layer["construct_s"] = t1 - t0
            op.layer["execute_s"] = t2 - t1
            op.layer["cpu_s"] = cpu_s
            op.layer["construct_jobs"] = self.jobs.count(g_build)
            op.layer["jobs"] = op.layer["construct_jobs"] + self.jobs.count(g_exec)
        return rows, t2 - t0, cpu_s

    def noop_stage_s(self, df) -> float:
        """Wall time of a no-op mapInPandas over ``df``'s rows: the cost of
        a Python stage that does nothing."""
        def empty(batches):
            for b in batches:
                yield b.iloc[:0]
        t0 = time.perf_counter()
        df.mapInPandas(empty, df.schema).collect()
        return time.perf_counter() - t0

    def spatial_join_layer(self, ops) -> dict:
        """Per-operation medians of the spatial-join counters."""
        keys = ("construct_s", "construct_jobs", "execute_s", "cpu_s", "candidate_rows",
                "output_rows", "python_s", "python_rows", "python_bytes_sent",
                "broadcast_bytes", "shuffle_write_bytes")
        ok = [o for o in ops if not o.failed and o.layer]
        return {f"spatial_join.{k}": median([o.layer.get(k, 0) for o in ok])
                for k in keys}


# ---------------------------------------------------------------------------
# pages_pip: bulk point-in-polygon join of geocoded pages
# ---------------------------------------------------------------------------

class PagesPip(Workload):
    """4M synthetic pages, geocoded, ``coveredby``-joined with lon/lat to the
    264-region world layer; the result is counted per region."""
    name = "pages_pip"
    N_PAGES = 4_000_000

    def setup(self):
        from sedona_db_spark.sources.fixtures import regions_grid
        from sedona_db_spark.webtext import pages_to_points
        self.pages = pages_to_points(self._synth_pages()).select(
            "url", "lon", "lat", "geom")
        # bench.py's region layer
        self.regions_pdf = regions_grid(n_side=16, bounds=WORLD, metro_hotspots=8)
        self.regions = self.spark.createDataFrame(self.regions_pdf)
        for _ in range(3):
            self.run_op("warmup")

    def _synth_pages(self):
        """The pages table, every url tagged with the seed: the tag moves
        every geocoded point."""
        from pyspark.sql import functions as F
        from sedona_db_spark.webtext import synth_pages
        return synth_pages(self.spark, self.N_PAGES).withColumn(
            "url", F.concat(F.col("url"), F.lit(f"#s{self.seed}")))

    def run_op(self, name: str) -> Op:
        from sedona_db_spark.operators import spatial_join
        op = Op(name)

        def build():
            j = spatial_join(self.pages, self.regions, "coveredby", "inner",
                             left_geom="geom", right_geom="geom",
                             left_lonlat=("lon", "lat"))
            return j.groupBy("region_id").count()
        t0 = time.perf_counter()
        try:
            rows, op.latency, op.join_cpu_s = self._timed_join(op, build)
        except Exception as e:                     # noqa: BLE001 - counted
            op.failed, op.output = True, repr(e)
            op.latency = time.perf_counter() - t0
            return op
        op.join_s = op.latency
        op.output = dict(zip(rows["region_id"].astype(int), rows["count"].astype(int)))
        op.join_rows = int(rows["count"].sum())
        op.layer["output_rows"] = op.join_rows
        return op

    def round(self, index: int) -> list[Op]:
        return [self.run_op(f"join-{index}")]

    def check(self, ops) -> tuple[bool, str]:
        coords = self.pages.select("lon", "lat").toPandas()
        lon = coords["lon"].to_numpy(np.float64)
        lat = coords["lat"].to_numpy(np.float64)
        polys = dict(zip(self.regions_pdf["region_id"].astype(int),
                         self.regions_pdf["geom"]))
        expect = checks.pip_counts(lon, lat, polys)
        for op in ops:
            if op.failed:
                continue
            for rid, (sure, near) in expect.items():
                got = op.output.get(rid, 0)
                if not sure <= got <= sure + near:
                    return False, (f"{op.name}: region {rid} has {got} pages, "
                                   f"expected {sure} (+{near} on an edge)")
            if set(op.output) - set(expect):
                return False, f"{op.name}: unknown region ids in output"
        return True, f"{len(expect)} regions over {len(lon)} pages"

    def layer(self, ops) -> dict:
        from sedona_db_spark.webtext import pages_to_points
        out = self.spatial_join_layer(ops)
        with self.tracer.span("webtext.pages"):
            t0 = time.perf_counter()
            pages_to_points(self._synth_pages()).write.format("noop").mode(
                "overwrite").save()
            out["webtext.pages_rows_per_s"] = self.N_PAGES / (time.perf_counter() - t0)
        with self.tracer.span("python.noop_stage"):
            out["python.noop_stage_s"] = self.noop_stage_s(
                self.pages.select("lon", "lat"))
        return out


# ---------------------------------------------------------------------------
# headline queries: bench.py's query suite over seeded tables
# ---------------------------------------------------------------------------

class HeadlineQueries:
    """One pass over bench.py's 21 headline queries, in bench.py's order,
    each built from scratch and collected: the first run of every query in
    the session.  A per-layer probe of the traced run."""

    def __init__(self, workload: "Workload"):
        import datagen
        from bench import HEADLINE
        from sedona_db_spark.plans.demo_queries import QUERIES
        self.wl, self.names, self.queries = workload, HEADLINE, QUERIES
        self.data_dir = os.path.join(workload.work_dir, "tables")
        self.table_paths = datagen.write_tables(self.data_dir, workload.seed)

    def run(self) -> list[Op]:
        spark, ops = self.wl.spark, []
        for name in self.names:
            op = Op(name)
            try:
                rows, op.latency, _ = self.wl._timed_join(
                    op, lambda: self.queries[name](spark, self.data_dir))
            except Exception as e:                 # noqa: BLE001 - counted
                op.failed, op.output = True, repr(e)
            else:
                op.output = checks.canon_hash(rows)
            spark.catalog.clearCache()
            ops.append(op)
        return ops

    def check(self, ops) -> tuple[bool, str]:
        from sedona_db_spark.plans.demo_queries import ORACLE_SQL
        oracle = checks.Oracle(self.table_paths)
        try:
            for op in ops:
                if op.failed:
                    return False, f"{op.name} failed: {op.output}"
                want = oracle.answer(ORACLE_SQL[op.name])
                if tuple(op.output) != tuple(want):
                    return False, (f"{op.name}: {op.output[0]} rows / hash "
                                   f"{op.output[1][:12]} vs oracle {want[0]} "
                                   f"rows / {want[1][:12]}")
        finally:
            oracle.save()
        return True, f"{len(ops)} query results match DuckDB"

    @staticmethod
    def layer(ops) -> dict:
        out = {}
        for op in ops:
            out[f"query.{op.name}.latency_s"] = op.latency
            for k in ("construct_s", "jobs", "shuffle_write_bytes"):
                out[f"query.{op.name}.{k}"] = op.layer.get(k, 0)
        return out


# ---------------------------------------------------------------------------
# grid_ingest: commits to an ice table, each followed by a windowed join
# ---------------------------------------------------------------------------

# The parcel and zoning shapes are one fixed draw; the seed places the
# whole scene on the globe.  Moving it changes every coordinate, grid cell,
# covering and file bbox the engine sees, but not which shapes intersect,
# so every seed does the same amount of join work.
SHAPES_SEED = 7
# 4 x 2 districts of 10 x 10 degrees; batches alternate inside and outside
# the query window, which covers the two western columns
AREA = (0.0, 0.0, 40.0, 20.0)
WINDOW = (0.0, 0.0, 20.0, 20.0)
DISTRICTS = [(0, 0), (2, 0), (1, 1), (3, 1), (0, 1), (2, 1), (1, 0), (3, 0)]
PARCEL_SIZE = (0.1, 0.35)


def _translated(wkb: bytes, dx: float, dy: float) -> bytes:
    rings = checks.polygon_rings(wkb)
    out = struct.pack("<BII", 1, 3, len(rings))
    for r in rings:
        out += struct.pack("<I", len(r)) + (r + (dx, dy)).astype("<f8").tobytes()
    return out


class Scene:
    """The grid_ingest inputs for one seed."""

    def __init__(self, seed: int):
        rng = np.random.default_rng(seed)
        self.dx = float(rng.uniform(-170.0, 120.0))
        self.dy = float(rng.uniform(-80.0, 55.0))
        x0, y0, x1, y1 = WINDOW
        self.window = (x0 + self.dx, y0 + self.dy, x1 + self.dx, y1 + self.dy)

    def _moved(self, pdf):
        pdf["geom"] = [_translated(g, self.dx, self.dy) for g in pdf["geom"]]
        return pdf

    def parcel_batches(self, n_batches: int, n_per_batch: int):
        """Parcel polygons, each batch clustered in its own district
        (centres inset so no parcel crosses its district edge)."""
        from sedona_db_spark.sources.fixtures import random_polygons
        out = []
        for b in range(n_batches):
            ix, iy = DISTRICTS[b % len(DISTRICTS)]
            pad = PARCEL_SIZE[1]
            bounds = (ix * 10 + pad, iy * 10 + pad,
                      ix * 10 + 10 - pad, iy * 10 + 10 - pad)
            pdf = random_polygons(n_per_batch, seed=SHAPES_SEED * 1000 + b,
                                  size=PARCEL_SIZE, bounds=bounds)
            pdf = pdf.rename(columns={"geometry": "geom"})
            pdf["parcel_id"] = pdf["id"] + b * n_per_batch
            out.append(self._moved(pdf[["parcel_id", "geom"]].copy()))
        return out

    def zoning_layer(self, n: int):
        from sedona_db_spark.sources.fixtures import random_polygons
        pdf = random_polygons(n, seed=SHAPES_SEED * 1000 + 999, size=(0.4, 1.5),
                              hole_rate=0.2, bounds=AREA)
        pdf = pdf.rename(columns={"geometry": "geom", "id": "zone_id"})
        return self._moved(pdf[["zone_id", "geom"]].copy())


class GridIngest(Workload):
    """Parcel batches committed one by one to an ice table; after each
    commit, a bbox-windowed read of the current snapshot is joined
    ``intersects`` with a fixed zoning layer.  Both sides are polygons, so
    every join takes the generic cell-join path.  The traced run also runs
    bench.py's headline queries once, as a per-layer probe."""
    name = "grid_ingest"
    N_BATCHES = 2
    N_PER_BATCH = 250
    N_ZONES = 600

    def setup(self):
        self.scene = Scene(self.seed)
        self.batch_pdfs = self.scene.parcel_batches(self.N_BATCHES, self.N_PER_BATCH)
        self.batches = [self.spark.createDataFrame(p) for p in self.batch_pdfs]
        self.zones_pdf = self.scene.zoning_layer(self.N_ZONES)
        self.zones = self.spark.createDataFrame(self.zones_pdf)
        self.suite_ops: list[Op] = []
        # warm-up: the first commit and join of a round, on a table of its own
        self._run(os.path.join(self.work_dir, "ice-warmup"), 1, "warmup")

    def _run(self, path: str, n_ops: int, label: str) -> list[Op]:
        from sedona_db_spark.operators import spatial_join
        from sedona_db_spark.sources import icetable
        ops = []
        for b in range(n_ops):
            op = Op(f"{label}-commit-{b}")
            t0 = time.perf_counter()
            try:
                with self.tracer.span("icetable.append", op.name):
                    if b == 0:
                        snap = icetable.create(self.spark, path, self.batches[b],
                                               geom_col="geom")
                    else:
                        snap = icetable.append(self.spark, path, self.batches[b])
                t1 = time.perf_counter()
                with self.tracer.span("icetable.read", op.name):
                    parcels = icetable.read(self.spark, path, bbox=self.scene.window)
                t2 = time.perf_counter()

                def build():
                    j = spatial_join(parcels.select("parcel_id", "geom"),
                                     self.zones, "intersects", "inner",
                                     left_geom="geom", right_geom="geom")
                    return j.select("parcel_id", "zone_id")
                rows, join_s, op.join_cpu_s = self._timed_join(op, build)
            except Exception as e:                 # noqa: BLE001 - counted
                op.failed, op.output = True, repr(e)
                op.latency = time.perf_counter() - t0
            else:
                op.latency = (t2 - t0) + join_s
                op.join_s = join_s
                op.output = set(zip(rows["parcel_id"].astype(int),
                                    rows["zone_id"].astype(int)))
                op.join_rows = len(op.output)
                op.layer.update(append_s=t1 - t0, read_plan_s=t2 - t1,
                                output_rows=op.join_rows, path=path,
                                snapshot=snap["snapshot-id"])
            ops.append(op)
        return ops

    def round(self, index: int) -> list[Op]:
        return self._run(os.path.join(self.work_dir, f"ice-round-{index}"),
                         self.N_BATCHES, f"r{index}")

    def check(self, ops) -> tuple[bool, str]:
        ok, detail = self._check_commits(ops)
        if ok and self.suite_ops:
            ok, more = self.suite.check(self.suite_ops)
            detail = f"{detail}; {more}"
        return ok, detail

    def _check_commits(self, ops) -> tuple[bool, str]:
        from sedona_db_spark.sources import icetable
        zones = {int(z): checks.Shape(g) for z, g in
                 zip(self.zones_pdf["zone_id"], self.zones_pdf["geom"])}
        window = checks.rect_shape(*self.scene.window)
        parcels_in = []
        for pdf in self.batch_pdfs:
            shapes = {int(p): checks.Shape(g) for p, g in zip(pdf["parcel_id"], pdf["geom"])}
            parcels_in.append({p: s for p, s in shapes.items() if s.intersects(window)})
        expect = []
        for b in range(self.N_BATCHES):
            # pairs of the batches committed so far, each batch computed once
            new = checks.intersecting_pairs(parcels_in[b], zones)
            expect.append((expect[-1] if expect else set()) | new)
        for i, op in enumerate(ops):
            if op.failed:
                continue
            b = i % self.N_BATCHES
            if op.output != expect[b]:
                return False, (f"{op.name}: {len(op.output)} pairs, expected "
                               f"{len(expect[b])} "
                               f"({len(op.output - expect[b])} extra, "
                               f"{len(expect[b] - op.output)} missing)")
            path, sid = op.layer["path"], op.layer["snapshot"]
            scan = icetable.scan_files(path, snapshot_id=sid)
            n_read = icetable.read(self.spark, path, snapshot_id=sid).count()
            want = sum(len(p) for p in self.batch_pdfs[:b + 1])
            if not scan["rows_total"] == n_read == want:
                return False, (f"{op.name}: snapshot {sid} holds {n_read} rows "
                               f"({scan['rows_total']} in its manifests), "
                               f"committed {want}")
        return True, f"{len(ops)} commits and joins match the brute force"

    def layer(self, ops) -> dict:
        from sedona_db_spark.sources import icetable
        out = self.spatial_join_layer(ops)
        ok = [o for o in ops if not o.failed]
        out["icetable.append_s"] = median([o.layer["append_s"] for o in ok])
        out["icetable.read_plan_s"] = median([o.layer["read_plan_s"] for o in ok])
        out["icetable.ingest_rows_per_s"] = (
            self.N_PER_BATCH * len(ok) / sum(o.layer["append_s"] for o in ok))
        last = ok[-1]
        scan = icetable.scan_files(last.layer["path"], snapshot_id=last.layer["snapshot"],
                                   bbox=self.scene.window)
        out["icetable.files_scanned"] = len(scan["files"])
        out["icetable.files_total"] = scan["files_total"]
        with self.tracer.span("python.noop_stage"):
            out["python.noop_stage_s"] = self.noop_stage_s(
                self.batches[0].repartition(self.cpus))
        with self.tracer.span("plans.demo_queries"):
            self.suite = HeadlineQueries(self)
            self.suite_ops = self.suite.run()
        out.update(self.suite.layer(self.suite_ops))
        return out


WORKLOADS = {w.name: w for w in (PagesPip, GridIngest)}
