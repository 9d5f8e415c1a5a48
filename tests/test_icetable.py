"""Iceberg-analogue table format (sources/icetable.py): snapshot
isolation, time travel, rollback, crash invisibility, manifest-level
spatial file pruning, snapshot expiry.

The north rule's input is an Iceberg table; the reference documents the
pyiceberg workflow (docs/iceberg.md:20-60).  No connector jars exist in
this sandbox, so these tests pin the SEMANTICS on the parquet+JSON
implementation using Iceberg's HadoopCatalog layout."""

import json
import os
import time

import pytest

from pyspark.sql import functions as F

from sedona_db_spark.sources import fixtures as FX
from sedona_db_spark.sources import icetable as I


def _pts(spark, n, seed, bounds=(-50, -50, 50, 50)):
    return spark.createDataFrame(
        FX.random_points(n, seed=seed, bounds=bounds)) \
        .withColumnRenamed("geometry", "geom")


def test_create_append_snapshot_isolation(spark, tmp_path):
    path = str(tmp_path / "t1")
    s1 = I.create(spark, path, _pts(spark, 100, seed=1))
    assert s1["snapshot-id"] == 1
    s2 = I.append(spark, path, _pts(spark, 40, seed=2))
    assert s2["snapshot-id"] == 2
    # latest sees both commits; snapshot 1 only the first
    assert I.read(spark, path).count() == 140
    assert I.read(spark, path, snapshot_id=1).count() == 100
    assert len(I.snapshots(path)) == 2
    # metadata layout is Iceberg HadoopCatalog's
    assert os.path.exists(os.path.join(path, "metadata",
                                       "version-hint.text"))
    assert os.path.exists(os.path.join(path, "metadata",
                                       "v2.metadata.json"))


def test_time_travel_by_timestamp(spark, tmp_path):
    path = str(tmp_path / "t2")
    I.create(spark, path, _pts(spark, 30, seed=3))
    t_between = int(time.time() * 1000)
    time.sleep(0.05)
    I.append(spark, path, _pts(spark, 20, seed=4))
    assert I.read(spark, path, as_of_ms=t_between).count() == 30
    assert I.read(spark, path).count() == 50
    with pytest.raises(KeyError):
        I.read(spark, path, as_of_ms=1000)  # before table creation


def test_overwrite_and_rollback(spark, tmp_path):
    path = str(tmp_path / "t3")
    I.create(spark, path, _pts(spark, 25, seed=5))
    I.overwrite(spark, path, _pts(spark, 7, seed=6))
    assert I.read(spark, path).count() == 7
    # old snapshot still readable (files never deleted by overwrite)
    assert I.read(spark, path, snapshot_id=1).count() == 25
    I.rollback(path, 1)
    assert I.read(spark, path).count() == 25
    # history preserved: snapshot 2 still time-travelable after rollback
    assert I.read(spark, path, snapshot_id=2).count() == 7


def test_crashed_write_is_invisible(spark, tmp_path):
    path = str(tmp_path / "t4")
    I.create(spark, path, _pts(spark, 10, seed=7))
    # simulate a crash AFTER data files land but BEFORE the metadata
    # commit: write orphan parquet under data/, touch no metadata
    orphan = os.path.join(path, "data", "commit-deadbeef")
    _pts(spark, 99, seed=8).write.mode("overwrite").parquet(orphan)
    assert I.read(spark, path).count() == 10  # orphans invisible
    assert len(I.snapshots(path)) == 1


def test_manifest_file_pruning_and_bbox_read(spark, tmp_path):
    path = str(tmp_path / "t5")
    # two spatially disjoint commits -> disjoint file bboxes in manifests
    I.create(spark, path, _pts(spark, 300, seed=9, bounds=(-50, -50, -10, -10)))
    I.append(spark, path, _pts(spark, 200, seed=10, bounds=(10, 10, 50, 50)))
    scan = I.scan_files(path, bbox=(-49.0, -49.0, -11.0, -11.0))
    assert scan["files_total"] == scan["files_pruned"] + len(scan["files"])
    assert scan["files_pruned"] >= 1          # the NE commit's files skip
    assert scan["rows_after_prune"] <= 300
    got = I.read(spark, path, bbox=(-49.0, -49.0, -11.0, -11.0)).count()
    # exact refine result == brute-force count over the full table
    from sedona_db_spark.functions.scalar import st_x, st_y
    full = I.read(spark, path)
    brute = full.where(
        (st_x(F.col("geom")).between(-49.0, -11.0))
        & (st_y(F.col("geom")).between(-49.0, -11.0))).count()
    assert got == brute > 0


def test_bbox_read_drops_parcel_outside_window(spark, tmp_path):
    """A parcel whose bbox overlaps the window but whose geometry does not
    passes the covering-column filter and is dropped by the exact refine;
    the refine is the plan's only Python evaluation."""
    import pandas as pd
    from sedona_db_spark.geometry import wkb as W
    path = str(tmp_path / "t5w")
    tri = W.wkt_to_wkb("POLYGON ((0 0, 10 0, 0 10, 0 0))")
    sq = W.wkt_to_wkb("POLYGON ((7 7, 8.5 7, 8.5 8.5, 7 8.5, 7 7))")
    I.create(spark, path, spark.createDataFrame(pd.DataFrame(
        {"id": [1, 2], "geom": [tri, sq]})))
    window = (8.0, 8.0, 9.0, 9.0)
    assert sorted(r.id for r in I.read(spark, path, bbox=window,
                                       exact=False).collect()) == [1, 2]
    df = I.read(spark, path, bbox=window)
    assert [r.id for r in df.collect()] == [2]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_expire_snapshots_reclaims_only_dead_files(spark, tmp_path):
    path = str(tmp_path / "t6")
    I.create(spark, path, _pts(spark, 20, seed=11))
    I.overwrite(spark, path, _pts(spark, 5, seed=12))
    expired = I.expire_snapshots(path, keep_last=1)
    assert expired == [1]
    # current snapshot unaffected; snapshot 1 gone
    assert I.read(spark, path).count() == 5
    with pytest.raises(KeyError):
        I.read(spark, path, snapshot_id=1)


def test_schema_survives_in_metadata(spark, tmp_path):
    path = str(tmp_path / "t7")
    I.create(spark, path, _pts(spark, 5, seed=13))
    meta = json.load(open(os.path.join(
        path, "metadata",
        f"v{open(os.path.join(path, 'metadata', 'version-hint.text')).read()}"
        f".metadata.json")))
    names = [f["name"] for f in meta["schema"]["fields"]]
    assert "geom" in names and meta["geometry-column"] == "geom"


def test_driver_query_path_reads_through_icetable_and_prunes(spark):
    """The round-5 driver query ice_pip_count ingests documents into an
    icetable clustered by longitude ranges; the Europe query window must
    prune whole files at the MANIFEST (before Spark lists anything), and
    the read-through result must equal the bare-parquet equivalent."""
    from sedona_db_spark.plans.demo_queries import (ICE_BBOX, _ice_docs_path,
                                                    doc_points)
    sf_dir = "/root/testdata/sf0.001"
    path = _ice_docs_path(spark, sf_dir)
    scan = I.scan_files(path, bbox=ICE_BBOX)
    assert scan["files_pruned"] > 0, "lon-range clustering must let the " \
        "manifest bbox stats drop files for a window query"
    assert scan["rows_after_prune"] < scan["rows_total"]
    got = sorted(r.doc_id for r in I.read(spark, path, bbox=ICE_BBOX)
                 .select("doc_id").collect())
    xmin, ymin, xmax, ymax = ICE_BBOX
    want = sorted(r.doc_id for r in doc_points(spark, sf_dir).where(
        (F.col("lon") >= xmin) & (F.col("lon") <= xmax)
        & (F.col("lat") >= ymin) & (F.col("lat") <= ymax)).collect())
    assert got == want and len(want) > 0


def test_expire_order_metadata_commits_before_file_deletes(spark, tmp_path,
                                                           monkeypatch):
    """Round-4 ADVICE: a crash between expire's metadata commit and its
    file deletions must leave a table whose committed metadata references
    only live files (Iceberg's expire order).  Simulate the crash by
    failing the first os.remove."""
    path = str(tmp_path / "t8")
    I.create(spark, path, _pts(spark, 20, seed=21))
    I.overwrite(spark, path, _pts(spark, 6, seed=22))

    real_remove = os.remove
    calls = {"n": 0}

    def boom(p):
        calls["n"] += 1
        raise OSError("simulated crash during expire file deletion")

    monkeypatch.setattr(os, "remove", boom)
    with pytest.raises(OSError):
        I.expire_snapshots(path, keep_last=1)
    monkeypatch.setattr(os, "remove", real_remove)
    assert calls["n"] >= 1
    # metadata already committed: snapshot 1 is gone from history...
    with pytest.raises(KeyError):
        I.read(spark, path, snapshot_id=1)
    # ...and the CURRENT snapshot still reads fine (no dangling refs)
    assert I.read(spark, path).count() == 6
