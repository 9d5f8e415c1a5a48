"""sedona_db_spark — a PySpark-native spatial-join + tiling analytics engine.

A from-scratch re-expression of the capabilities of Apache SedonaDB
(reference: zhangfengcdt/sedona-db) on Spark's execution model:

- geometry = WKB bytes in BinaryType columns (GeoArrow-style convention,
  mirroring the reference's `SedonaType::Wkb` storage,
  rust/sedona-schema/src/datatypes.rs:181-188) — all kernels are
  numpy-vectorized over WKB inside pandas/Arrow UDFs (zero per-row Python
  in hot paths);
- spatial index = an int64-packed hierarchical lon/lat grid (the Spark
  analogue of the reference's KDB spatial partitioning + sd_order S2 cell
  keys, rust/sedona-spatial-join/src/partitioning/kdb.rs:18-37,
  c/sedona-proj/src/sd_order_lnglat.rs:32-60);
- spatial joins = two-phase partition-then-refine: cell-id equi join
  (Catalyst hash join, broadcast when small) followed by exact vectorized
  refinement (the Spark-native analogue of SpatialJoinExec's
  R-tree-build + probe, rust/sedona-spatial-join/src/exec.rs:77-120);
- relational core = Spark SQL / Catalyst untouched (the reference inherits
  its relational core from DataFusion the same way,
  rust/sedona/src/context.rs:149-152).
"""

__version__ = "0.1.0"

from sedona_db_spark._malloc import tune_malloc
from sedona_db_spark._zipcache import install as _install_zipcache

tune_malloc()   # per-process; Spark Python workers import this package too
_install_zipcache()

from sedona_db_spark.session import get_spark, register_all  # noqa: F401
from sedona_db_spark.sql_frontend import sql  # noqa: F401
