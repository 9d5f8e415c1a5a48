"""Planning memos see files appended to a path within one session.

The spatial join memoizes build-side statistics and the probe's
point/non-point kind per canonical plan.  Spark's file-index equality
compares only root paths, so ``spark.read.parquet(path)`` after an append
to ``path`` is ``sameSemantics`` with the frame read before it; the memo
key also holds the input files (path, size, mtime) so the re-read frame
gets fresh statistics.
"""

import importlib

import pandas as pd

from sedona_db_spark.geometry import wkb as W
from sedona_db_spark.operators import spatial_join

THRESHOLDS = (200_000, 0)   # broadcast tier, cell join


def _square(x0, y0, x1, y1):
    return W.wkt_to_wkb(f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                        f"{x0} {y1}, {x0} {y0}))")


def _pairs(df, lid, rid):
    return sorted((r[lid], r[rid]) for r in df.collect())


def test_probe_append_reaches_join(spark, tmp_path):
    """A point-only probe path gains a polygon: the re-read probe is
    refined as mixed, so the polygon's pair is found."""
    path = str(tmp_path / "probe")
    spark.createDataFrame(pd.DataFrame({
        "id": [1], "geom": [W.wkt_to_wkb("POINT (0.5 0.5)")]})
    ).write.parquet(path)
    rdf = spark.createDataFrame(pd.DataFrame({
        "bid": [10],
        "geom": [W.wkt_to_wkb("POLYGON ((0 0, 10 0, 0 10, 0 0))")]}))
    for bt in THRESHOLDS:
        probe = spark.read.parquet(path)
        assert _pairs(spatial_join(probe, rdf, "intersects",
                                   broadcast_threshold=bt),
                      "id", "bid") == [(1, 10)], bt
    spark.createDataFrame(pd.DataFrame({
        "id": [2], "geom": [_square(5, 5, 6, 6)]})).write.mode(
            "append").parquet(path)
    for bt in THRESHOLDS:
        probe = spark.read.parquet(path)
        assert probe.count() == 2
        assert _pairs(spatial_join(probe, rdf, "intersects",
                                   broadcast_threshold=bt),
                      "id", "bid") == [(1, 10), (2, 10)], bt


def test_build_append_larger_distance(spark, tmp_path):
    """A build path gains a row with a larger ``dwithin`` distance: the
    re-read build side's max distance pads the candidates, so the new
    pair is found."""
    path = str(tmp_path / "build")
    spark.createDataFrame(pd.DataFrame({
        "bid": [10], "geom": [_square(0, 0, 1, 1)],
        "dist": [0.1]})).write.parquet(path)
    ldf = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2], "geom": [W.wkt_to_wkb("POINT (0.5 0.5)"),
                               W.wkt_to_wkb("POINT (3 5.5)")]}))
    for bt in THRESHOLDS:
        build = spark.read.parquet(path)
        assert _pairs(spatial_join(ldf, build, "dwithin", distance="dist",
                                   broadcast_threshold=bt),
                      "id", "bid") == [(1, 10)], bt
    # the point (3, 5.5) lies 2.0 from this square, inside its distance
    spark.createDataFrame(pd.DataFrame({
        "bid": [20], "geom": [_square(5, 5, 6, 6)],
        "dist": [2.5]})).write.mode("append").parquet(path)
    for bt in THRESHOLDS:
        build = spark.read.parquet(path)
        assert _pairs(spatial_join(ldf, build, "dwithin", distance="dist",
                                   broadcast_threshold=bt),
                      "id", "bid") == [(1, 10), (2, 20)], bt


def test_build_growing_past_threshold_leaves_broadcast_tier(
        spark, tmp_path, monkeypatch):
    """A build path appended past ``broadcast_threshold`` is counted again,
    so the re-read build side takes the grid path."""
    SJ = importlib.import_module("sedona_db_spark.operators.spatial_join")
    calls = []
    real = SJ._broadcast_join

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)
    monkeypatch.setattr(SJ, "_broadcast_join", spy)
    path = str(tmp_path / "grow")
    spark.createDataFrame(pd.DataFrame({
        "bid": [10], "geom": [_square(0, 0, 1, 1)]})).write.parquet(path)
    ldf = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2], "geom": [W.wkt_to_wkb("POINT (0.5 0.5)"),
                               W.wkt_to_wkb("POINT (5.5 5.5)")]}))
    got = _pairs(spatial_join(ldf, spark.read.parquet(path), "intersects",
                              broadcast_threshold=1), "id", "bid")
    assert got == [(1, 10)] and len(calls) == 1
    spark.createDataFrame(pd.DataFrame({
        "bid": [20], "geom": [_square(5, 5, 6, 6)]})).write.mode(
            "append").parquet(path)
    got = _pairs(spatial_join(ldf, spark.read.parquet(path), "intersects",
                              broadcast_threshold=1), "id", "bid")
    assert got == [(1, 10), (2, 20)] and len(calls) == 1
