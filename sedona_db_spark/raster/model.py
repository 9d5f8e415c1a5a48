"""Raster data model: a raster is a *value* in a column.

Nested StructType mirroring the reference's Arrow raster struct
(/root/reference/rust/sedona-schema/src/raster.rs:24-90): a 6-parameter
affine geotransform + CRS string + a list of bands whose pixel data is a
packed binary blob typed by BandDataType (raster.rs:96-110).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from sedona_db_spark.operators.memo import _Memo

BAND_METADATA_TYPE = StructType([
    StructField("nodatavalue", BinaryType()),
    StructField("storage_type", IntegerType()),
    StructField("datatype", IntegerType()),   # BandDataType ordinal (5=uint8)
    StructField("outdb_url", StringType()),
    StructField("outdb_band_id", IntegerType()),
])

BAND_TYPE = StructType([
    StructField("metadata", BAND_METADATA_TYPE),
    StructField("data", BinaryType()),
])

RASTER_METADATA_TYPE = StructType([
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("upperleft_x", DoubleType()),
    StructField("upperleft_y", DoubleType()),
    StructField("scale_x", DoubleType()),
    StructField("scale_y", DoubleType()),
    StructField("skew_x", DoubleType()),
    StructField("skew_y", DoubleType()),
])

RASTER_TYPE = StructType([
    StructField("metadata", RASTER_METADATA_TYPE),
    StructField("crs", StringType()),
    StructField("bands", ArrayType(BAND_TYPE)),
])

TILE_SCHEMA = StructType([
    StructField("tile_id", LongType()),
    StructField("raster", RASTER_TYPE),
])

# BandDataType ordinals mirroring raster.rs:96-110
DT_UINT8 = 5


def make_tile(tile_id: int, ulx: float, uly: float, scale_x: float,
              scale_y: float, width: int, height: int,
              crs: str = "OGC:CRS84", with_pixels: bool = True):
    """One tile row; pixel value = deterministic fn of (tile_id, col, row)."""
    if with_pixels:
        rows_idx, cols_idx = np.mgrid[0:height, 0:width]
        pix = ((tile_id * 31 + rows_idx * 7 + cols_idx * 3) % 256).astype(np.uint8)
        data = pix.tobytes()
    else:
        data = b""
    return {
        "tile_id": tile_id,
        "raster": {
            "metadata": {
                "width": width, "height": height,
                "upperleft_x": ulx, "upperleft_y": uly,
                "scale_x": scale_x, "scale_y": scale_y,
                "skew_x": 0.0, "skew_y": 0.0,
            },
            "crs": crs,
            "bands": [{
                "metadata": {"nodatavalue": b"", "storage_type": 0,
                             "datatype": DT_UINT8, "outdb_url": None,
                             "outdb_band_id": 0},
                "data": data,
            }],
        },
    }


# deterministic-fixture plan memo: repeated make_tiles_df calls with the
# same arguments return the SAME local-relation DataFrame, so downstream
# plan-keyed statistics memos hit and the tile rows ship to the JVM once
# per session (the rows are a pure function of the arguments)
_TILES_MEMO = _Memo("tiles", max_entries=64)


def make_tiles_df(spark: SparkSession, nx: int = 16, ny: int = 16,
                  tile_px: int = 64,
                  bounds=(-120.0, 20.0, -60.0, 50.0),
                  with_pixels: bool = True) -> DataFrame:
    """FIXTURES.md §6: an nx×ny grid of tiles covering ``bounds``.

    Tile (i, j) covers [xmin + i·tw, xmin + (i+1)·tw] × [ymax − (j+1)·th,
    ymax − j·th]; upper-left anchored, scale_y negative (north-up
    convention, matching the reference's geotransform model).
    """
    def make():
        xmin, ymin, xmax, ymax = bounds
        tw = (xmax - xmin) / nx
        th = (ymax - ymin) / ny
        rows = []
        for j in range(ny):
            for i in range(nx):
                tid = j * nx + i
                rows.append(make_tile(
                    tid, xmin + i * tw, ymax - j * th,
                    tw / tile_px, -th / tile_px, tile_px, tile_px,
                    with_pixels=with_pixels))
        return spark.createDataFrame(rows, schema=TILE_SCHEMA)
    return _TILES_MEMO.session_cached(
        spark, (nx, ny, tile_px, tuple(bounds), with_pixels), make)
