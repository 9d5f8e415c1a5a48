"""Broadcast build sides are prepared once per session.

A spatial join on the broadcast tier collects its build side, decodes it,
builds a cell index and broadcasts it.  For a build frame whose plan reads
only sources that cannot change under an equal plan (local rows, RDDs,
ranges, local files fingerprinted by path, size and mtime), that work is
memoized per session (``_BUILD_SIDES``), so a repeated join against the
same frame starts no Spark job before its DataFrame is returned.  The
probe's point/non-point kind is asked only when a tier needs it.
"""

import glob
import importlib
import json
import os
import shutil
import subprocess
import sys
import uuid

import pandas as pd
import pytest

from urllib.parse import urlparse

from pyspark.sql import functions as F

from sedona_db_spark.geometry import kernels as K
from sedona_db_spark.geometry import wkb as W
from sedona_db_spark.operators import spatial_join
from sedona_db_spark.sources import fixtures as FX

SJ = importlib.import_module("sedona_db_spark.operators.memo")
BS = importlib.import_module("sedona_db_spark.operators.build_side")

THRESHOLDS = (200_000, 0)   # broadcast tier, cell join
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _polys(n, seed):
    pdf = FX.random_polygons(n, seed=seed, num_vertices=(3, 8),
                             hole_rate=0.3)
    return pdf.rename(columns={"geometry": "geom"})[["id", "geom"]]


def _rect(x0, y0, x1, y1):
    return W.wkt_to_wkb(f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                        f"{x0} {y1}, {x0} {y0}))")


def _decoded(pdf):
    return [W.decode(bytes(g)) for g in pdf["geom"]]


def _brute(P, B, fn):
    return {(i, j) for i, p in enumerate(P) if p is not None
            for j, b in enumerate(B) if fn(p, b)}


def _pairs(df):
    return {(r["id"], r["id_r"]) for r in df.collect()}


def _jobs_during(spark, fn):
    """``fn()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    gid = f"build-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "build memo test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid) or [])


def _counts(name):
    return dict(SJ._MEMO_COUNTS[name])


@pytest.fixture(scope="module")
def layer(spark):
    bpd = _polys(30, seed=17)
    return spark.createDataFrame(bpd), _decoded(bpd)


def test_repeat_join_starts_no_jobs(spark, layer, tmp_path):
    """A join against the same build frame, with a freshly read polygon
    probe path, starts no Spark job before it returns its DataFrame."""
    rdf, B = layer
    for bt in THRESHOLDS:
        for k in range(2):
            path = str(tmp_path / f"probe-{bt}-{k}")
            ppd = _polys(20, seed=100 + k)
            spark.createDataFrame(ppd).write.parquet(path)
            probe = spark.read.parquet(path)
            j, n_jobs = _jobs_during(spark, lambda: spatial_join(
                probe, rdf, "intersects", broadcast_threshold=bt))
            if bt and k:
                assert n_jobs == 0
            assert _pairs(j) == _brute(_decoded(ppd), B,
                                       K.geom_intersects), (bt, k)


def test_byte_guard_on_memo_hit(spark, layer, monkeypatch):
    """A memoized build side over a budget lowered since it was stored
    leaves the broadcast tier, with the same pairs."""
    rdf, B = layer
    ppd = _polys(15, seed=31)
    probe = spark.createDataFrame(ppd)
    exp = _brute(_decoded(ppd), B, K.geom_intersects)
    assert _pairs(spatial_join(probe, rdf, "intersects")) == exp
    hits = _counts("build_side")["hit"]
    monkeypatch.setattr(SJ, "_BROADCAST_GEOM_BYTES", 64)
    j = spatial_join(probe, rdf, "intersects")
    assert _counts("build_side")["hit"] == hits + 1
    assert "__cell" in j._jdf.queryExecution().toString()
    assert _pairs(j) == exp


def test_rewritten_build_path_is_read_again(spark, tmp_path):
    """A build path rewritten with different polygons of the same count,
    by a new write or by replacing its data file under the same name:
    the next join returns the new pairs."""
    path = str(tmp_path / "build")
    ppd = _polys(25, seed=5)
    probe = spark.createDataFrame(ppd)

    def check(bpd, tag):
        exp = _brute(_decoded(ppd), _decoded(bpd), K.geom_intersects)
        assert exp
        for bt in THRESHOLDS:
            build = spark.read.parquet(path)
            assert _pairs(spatial_join(probe, build, "intersects",
                                       broadcast_threshold=bt)) == exp, \
                (tag, bt)

    for seed in (6, 7):
        bpd = _polys(12, seed=seed)
        spark.createDataFrame(bpd).write.mode("overwrite").parquet(path)
        check(bpd, seed)
    # the same file name, new contents
    bpd = _polys(12, seed=8)
    spark.createDataFrame(bpd).coalesce(1).write.parquet(path + "-new")
    old = glob.glob(os.path.join(path, "*.parquet"))
    # the local file system's checksum sidecars would flag the new bytes
    for f in old[1:] + glob.glob(os.path.join(path, ".*.crc")):
        os.remove(f)
    shutil.copyfile(glob.glob(os.path.join(path + "-new", "*.parquet"))[0],
                    old[0])
    check(bpd, "same name")


def test_remote_file_sources_are_not_stable(spark, tmp_path, monkeypatch):
    """Files off the local file system are fingerprinted by name only,
    so a build frame over them is not memoized."""
    path = str(tmp_path / "remote")
    spark.createDataFrame(_polys(4, seed=9)).write.parquet(path)
    build = spark.read.parquet(path)
    assert SJ._stable_plan(build)
    names = build.inputFiles()
    monkeypatch.setattr(type(build), "inputFiles", lambda self: [
        "hdfs://namenode" + urlparse(n).path for n in names])
    assert not SJ._stable_plan(build)


@pytest.mark.parametrize("scheme", ["hdfs://namenode", "file:/gone"])
def test_unfingerprinted_inputs_skip_statistics_memo(spark, tmp_path,
                                                     monkeypatch, scheme):
    """A file relation whose inputs the memo cannot fingerprint (off the
    local file system, or a local path that no longer stats) has its
    build statistics computed on every call."""
    SPJ = importlib.import_module("sedona_db_spark.operators.spatial_join")
    path = str(tmp_path / "stats")
    spark.createDataFrame(_polys(4, seed=10)).write.parquet(path)
    build = spark.read.parquet(path)
    names = build.inputFiles()
    monkeypatch.setattr(type(build), "inputFiles", lambda self: [
        scheme + urlparse(n).path for n in names])
    before = _counts("stats")
    for _ in range(2):
        assert SPJ._count_bytes_stats(build, "geom")[0] == 4
    assert _counts("stats") == {"hit": before["hit"],
                                "miss": before["miss"] + 2}


def test_lost_checkpoint_is_rebuilt(spark, layer):
    """A memoized build side whose checkpoint blocks are gone (here
    unpersisted, as after a lost executor) is prepared again, and the
    next join returns its pairs."""
    rdf, B = layer
    ppd = _polys(12, seed=41)
    probe = spark.createDataFrame(ppd)
    exp = _brute(_decoded(ppd), B, K.geom_intersects)
    assert _pairs(spatial_join(probe, rdf, "intersects")) == exp
    side = next(reversed(SJ._BUILD_SIDES.values()))[1]   # most recent
    assert side.blocks_present() and side.stored > 0
    side._ckpt.unpersist(True)
    assert not side.blocks_present()
    before = _counts("build_side")
    assert _pairs(spatial_join(probe, rdf, "intersects")) == exp
    assert _counts("build_side")["miss"] == before["miss"] + 1


def test_unstable_build_plans_are_not_memoized(spark, layer):
    """A build frame with a ``rand()`` column, or over a source outside
    the stable set (here a one-row relation), is prepared on every call."""
    rdf, B = layer
    ppd = _polys(20, seed=3)
    probe = spark.createDataFrame(ppd)
    one = spark.sql("SELECT 7L AS id").withColumn(
        "geom", F.lit(bytearray(_rect(-5, -5, 5, 5))))
    cases = [(rdf.withColumn("r", F.rand(seed=1)), B, range(len(B))),
             (one, [W.decode(_rect(-5, -5, 5, 5))], [7])]
    for build, G, ids in cases:
        exp = {(i, ids[j])
               for i, j in _brute(_decoded(ppd), G, K.geom_intersects)}
        before = _counts("build_side")
        for _ in range(2):
            assert _pairs(spatial_join(probe, build, "intersects")) == exp
        after = _counts("build_side")
        assert after["hit"] == before["hit"]
        assert after["miss"] == before["miss"] + 2
    # the stable layer itself is memoized
    before = _counts("build_side")
    for _ in range(2):
        spatial_join(probe, rdf, "intersects").collect()
    assert _counts("build_side")["hit"] >= before["hit"] + 1


def test_routing_unchanged(spark):
    """The probe kind still picks the tier where it matters."""
    rects = [_rect(x, y, x + 2, y + 2) for x in (-6, -2, 2) for y in (-6, 0)]
    rdf = spark.createDataFrame(pd.DataFrame({"id": range(len(rects)),
                                              "geom": rects}))
    R = [W.decode(g) for g in rects]
    pts = FX.random_points(40, seed=11, bounds=(-7, -7, 5, 3))
    pts = pts.rename(columns={"geometry": "geom"})[["id", "geom"]]
    pdf = spark.createDataFrame(pts)
    P = _decoded(pts)
    polys = _polys(15, seed=12)
    gdf = spark.createDataFrame(polys)
    G = _decoded(polys)
    for bt in THRESHOLDS:
        # a WKB point probe x an all-rect build: the JVM interval tier
        j = spatial_join(pdf, rdf, "intersects", broadcast_threshold=bt)
        if bt:
            plan = j._jdf.queryExecution().toString()
            assert "MapInPandas" not in plan
        assert _pairs(j) == _brute(P, R, K.geom_intersects)
        # a polygon probe x a rect build: the fused mapInPandas tier
        before = _counts("probe_kind")
        j = spatial_join(gdf, rdf, "intersects", broadcast_threshold=bt)
        if bt:
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert plan.count("MapInPandas") == 1
            assert "ArrowEvalPython" not in plan
            # the all-rect build side needs the kind: it was asked
            assert sum(_counts("probe_kind").values()) == \
                sum(before.values()) + 1
        assert _pairs(j) == _brute(G, R, K.geom_intersects)
        # a point probe under contains: the cell join
        j = spatial_join(pdf, rdf, "contains", broadcast_threshold=bt)
        assert "__cell" in j._jdf.queryExecution().toString()
        assert _pairs(j) == _brute(P, R, K.geom_contains)


def test_polygon_build_skips_probe_kind(spark, layer):
    """intersects against a polygon build side takes the fused tier
    without asking the probe's kind; the cell join asks it."""
    rdf, B = layer
    ppd = _polys(10, seed=21)
    probe = spark.createDataFrame(ppd)
    exp = _brute(_decoded(ppd), B, K.geom_intersects)
    for bt, asked in ((200_000, 0), (0, 1)):
        before = sum(_counts("probe_kind").values())
        got = _pairs(spatial_join(probe, rdf, "intersects",
                                  broadcast_threshold=bt))
        assert got == exp, bt
        assert sum(_counts("probe_kind").values()) == before + asked, bt


def test_point_probe_uses_memoized_kind(spark, layer):
    """A WKB point probe under dwithin against a polygon build side:
    without a memoized kind each batch is split, with one it is decoded
    as points; both give the brute-force pairs, and neither asks."""
    rdf, B = layer
    pts = FX.random_points(60, seed=13, bounds=(-10, -10, 10, 10))
    pts = pts.rename(columns={"geometry": "geom"})[["id", "geom"]]
    probe = spark.createDataFrame(pts)
    exp = _brute(_decoded(pts), B, lambda p, b: K.geom_distance(p, b) <= 0.5)
    assert exp

    def run(bt):
        return _pairs(spatial_join(probe, rdf, "dwithin", distance=0.5,
                                   broadcast_threshold=bt))
    before = _counts("probe_kind")
    assert run(200_000) == exp            # kind unknown: split batches
    assert _counts("probe_kind") == before
    assert run(0) == exp                  # the cell join asks the kind
    asked = _counts("probe_kind")
    assert asked["miss"] == before["miss"] + 1
    assert run(200_000) == exp            # memoized kind: point decode
    assert _counts("probe_kind") == asked


def test_broadcast_files_bounded(spark, layer):
    """Ten polygon-probe joins against one build frame leave at most one
    broadcast file in the driver's temp dir, and the first join's
    DataFrame still returns its rows."""
    rdf, B = layer
    tmp = spark.sparkContext._temp_dir
    n0 = len(os.listdir(tmp))
    joins = []
    for k in range(10):
        ppd = _polys(8, seed=200 + k)
        j = spatial_join(spark.createDataFrame(ppd), rdf, "intersects")
        joins.append((j, _brute(_decoded(ppd), B, K.geom_intersects)))
        assert _pairs(j) == joins[-1][1]
    assert len(os.listdir(tmp)) - n0 <= 1
    assert _pairs(joins[0][0]) == joins[0][1]


_NEW_SESSION = r"""
import json
import pandas as pd
from sedona_db_spark import get_spark
from sedona_db_spark.geometry import wkb as W
from sedona_db_spark.operators import spatial_join
import importlib
SJ = importlib.import_module("sedona_db_spark.operators.memo")

def frames(spark):
    sq = lambda a, b: W.wkt_to_wkb(
        f"POLYGON (({a} {a}, {b} {a}, {b} {b}, {a} {b}, {a} {a}))")
    tri = W.wkt_to_wkb("POLYGON ((0 0, 10 0, 0 10, 0 0))")
    rdf = spark.createDataFrame(pd.DataFrame({"bid": [10, 20],
                                              "geom": [tri, sq(20, 21)]}))
    ldf = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3],
                                              "geom": [sq(1, 2), sq(5, 6),
                                                       sq(20.5, 22)]}))
    return ldf, rdf

out = []
for _ in range(2):
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    for _ in range(2):
        ldf, rdf = frames(spark)
        h0 = SJ._MEMO_COUNTS["build_side"]["hit"]
        got = sorted((r["id"], r["bid"]) for r in
                     spatial_join(ldf, rdf, "intersects").collect())
        out.append([got, SJ._MEMO_COUNTS["build_side"]["hit"] - h0])
        # entries of a stopped session are gone after the first miss
        out.append(all(hit[0].sparkSession is spark
                       for hit in SJ._BUILD_SIDES.values()))
    spark.stop()
print(json.dumps(out))
"""


def test_new_session_does_not_reuse_old_broadcast(tmp_path):
    """After ``spark.stop()`` and a new session, a join over an equal
    local build frame is prepared afresh and is correct, and the stopped
    session's entries are dropped.  Runs in a child process so the
    suite's session stays up."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run([sys.executable, "-c", _NEW_SESSION], env=env,
                         cwd=str(tmp_path), capture_output=True, text=True,
                         timeout=600)
    assert run.returncode == 0, run.stderr[-2000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    want = [[1, 10], [2, 10], [3, 20]]
    # per session: a miss, then a hit on the equal frame
    assert out == [[want, 0], True, [want, 1], True,
                   [want, 0], True, [want, 1], True]


def test_jvm_cell_table_built_once(spark, monkeypatch):
    """Repeated lon/lat joins against one stable mixed rect + polygon
    layer classify each build row once and build the all-JVM tier's cell
    table once, with brute-force pairs and no Python in the plan."""
    import numpy as np
    from sedona_db_spark.sources.fixtures import regions_grid
    rpd = regions_grid(n_side=4, bounds=(-33.0, -17.0, 27.0, 23.0),
                       metro_hotspots=3, seed=5)
    regions = spark.createDataFrame(rpd)
    R = [W.decode(bytes(g)) for g in rpd["geom"]]
    rng = np.random.default_rng(5)
    xy = rng.uniform((-35.0, -19.0), (29.0, 25.0), (300, 2))
    pts = spark.createDataFrame(pd.DataFrame(
        {"id": range(len(xy)), "lon": xy[:, 0], "lat": xy[:, 1]}))
    exp = {(i, int(rpd["region_id"][j])) for i, j in _brute(
        [("Point", p) for p in xy], R, K.geom_covered_by)}
    calls = {"table": 0, "rect": 0}
    real_table, real_rect = BS._BuildSide._cell_table, BS._is_axis_rect

    def table(self, res, pad):
        calls["table"] += 1
        return real_table(self, res, pad)

    def rect(g):
        calls["rect"] += 1
        return real_rect(g)
    monkeypatch.setattr(BS._BuildSide, "_cell_table", table)
    monkeypatch.setattr(BS, "_is_axis_rect", rect)
    for _ in range(3):
        j = spatial_join(pts, regions, "coveredby",
                         left_lonlat=("lon", "lat"), right_geom="geom")
        plan = j._jdf.queryExecution().toString()
        assert "MapInPandas" not in plan and "EvalPython" not in plan
        assert {(r["id"], r["region_id"]) for r in j.collect()} == exp
    assert calls == {"table": 1, "rect": len(R)}


def test_leaf_tables_built_once(spark, monkeypatch):
    """Repeated lon/lat joins against one stable mixed rect + polygon
    layer build the leaf refine's leaf and slot tables once, keep them in
    the side's derived LRU, and weigh their bytes in the side's weight;
    every join returns the brute-force pairs with no lambda in its plan."""
    import numpy as np
    from sedona_db_spark.sources.fixtures import regions_grid
    LR = importlib.import_module("sedona_db_spark.operators.leaf_refine")
    rpd = regions_grid(n_side=4, bounds=(-33.0, -17.0, 27.0, 23.0),
                       metro_hotspots=3, seed=9)
    regions = spark.createDataFrame(rpd)
    R = [W.decode(bytes(g)) for g in rpd["geom"]]
    rng = np.random.default_rng(9)
    xy = rng.uniform((-35.0, -19.0), (29.0, 25.0), (300, 2))
    pts = spark.createDataFrame(pd.DataFrame(
        {"id": range(len(xy)), "lon": xy[:, 0], "lat": xy[:, 1]}))
    exp = {(i, int(rpd["region_id"][j])) for i, j in _brute(
        [("Point", p) for p in xy], R, K.geom_covered_by)}
    calls = {"leaves": 0, "build": 0}
    real_leaves, real_build = BS._BuildSide._leaf_table, LR.build

    def leaves(self, res):
        calls["leaves"] += 1
        return real_leaves(self, res)

    def build(*a):
        calls["build"] += 1
        return real_build(*a)
    monkeypatch.setattr(BS._BuildSide, "_leaf_table", leaves)
    monkeypatch.setattr(LR, "build", build)
    tables = set()
    for _ in range(3):
        j = spatial_join(pts, regions, "coveredby",
                         left_lonlat=("lon", "lat"), right_geom="geom")
        assert {(r["id"], r["region_id"]) for r in j.collect()} == exp
        assert "lambdafunction" not in \
            j._jdf.queryExecution().executedPlan().toString()
        side = next(reversed(SJ._BUILD_SIDES.values()))[1]
        (key, (lv, nbytes)), = [(k, v) for k, v in side.derived.items()
                                if k[0] == "leaves"]
        assert lv.reason is None and lv.counts["edge"] > 0
        tables.add((id(lv.cells), id(lv.slots)))
    assert calls == {"leaves": 1, "build": 1}
    assert len(tables) == 1
    assert nbytes == lv.nbytes() > 0
    assert side.weight() == side.nbytes + side.stored + sum(
        b for _, b in side.derived.values())


def test_side_structures_made_once_under_threads():
    """Threads sharing one build side make each derived structure once
    while it stays cached, keep the side's LRU within MAX_INDEXES, and
    weigh the side by the bytes its structures hold."""
    import threading
    import time
    from collections import Counter, OrderedDict
    side = object.__new__(BS._BuildSide)
    side.nbytes, side.stored = 100, 0
    side.derived, side.lock = OrderedDict(), threading.Lock()
    made = Counter()
    errors = []

    def make(k):
        made[k] += 1
        time.sleep(0.001)               # widen a check-then-act race
        return f"v{k}", 10

    def work():
        try:
            for i in range(2000):
                k = i % 3
                assert side._derived(k, lambda: make(k)) == f"v{k}"
        except Exception as e:          # noqa: BLE001 - reported below
            errors.append(e)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors
    assert made == {0: 1, 1: 1, 2: 1}
    assert side.weight() == 130
    for k in range(3, 10):
        side._derived(k, lambda: make(k))
    assert len(side.derived) == BS._BuildSide.MAX_INDEXES
    assert side.weight() == 100 + 10 * BS._BuildSide.MAX_INDEXES


def test_memo_lru_eviction(monkeypatch):
    """_Memo evicts the least recently used entry past its entry bound,
    and past _BROADCAST_GEOM_BYTES of summed weight when it weighs."""
    m = SJ._Memo("test_lru", max_entries=2)
    m.put("a", 1)
    m.put("b", 2)
    assert m.touch("a") == 1    # a hit makes "a" most recent
    m.put("c", 3)
    assert list(m) == ["a", "c"]
    monkeypatch.setattr(SJ, "_BROADCAST_GEOM_BYTES", 10)
    w = SJ._Memo("test_lru_bytes", weigh=lambda v: v)
    w.put("x", 4)
    w.put("y", 5)
    w.put("z", 3)               # 12 > 10: the oldest goes
    assert list(w) == ["y", "z"]
    w.put("big", 11)            # over the budget alone: nothing is kept
    assert list(w) == []


def test_memo_concurrent_put_and_touch():
    """Threads sharing one weighed _Memo never see it mutate under an
    eviction scan, and it stays within its entry bound."""
    import threading
    m = SJ._Memo("test_lru_threads", max_entries=8, weigh=lambda v: 1)
    errors = []

    def work(t):
        try:
            for i in range(2000):
                m.put((t, i % 16), 1)
                m.touch((t + 1, i % 16))
        except Exception as e:          # noqa: BLE001 - reported below
            errors.append(e)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors
    assert len(m) <= 8
