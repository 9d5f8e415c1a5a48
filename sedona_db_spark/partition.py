"""Scale-adaptive input spreading for generation-heavy stages.

A scan of one small parquet file yields ONE input partition, and every
explode / flatMap / partial-aggregate stage ABOVE the first exchange then
runs on one core no matter how many the session has (observed: the
repetition-metric gram generation ran single-threaded at bench scale —
the 9x gram fan-out and its partial aggregation all inside the lone scan
task).  At warehouse scale inputs arrive in hundreds of splits and the
problem does not exist.

``spread_small_input`` therefore repartitions ONLY when the input has
fewer partitions than the session's default parallelism: a no-op (and no
extra shuffle of the payload) for any realistically-sized input, a cheap
one-time scatter of the small input otherwise.  Keyed by hash of the
given columns so the placement is deterministic under task retry (guide
§2.5: never round-robin rows into a shuffle whose upstream could be
recomputed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def spread_small_input(df: DataFrame, key_col: str,
                       *more_keys: str) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism when (and
    only when) its plan yields fewer input partitions than that.

    At least one key column is required: the rows are hash-placed on
    ``key_col`` (and ``more_keys``), never round-robined.

    The partition count probe (``df.rdd`` plan translation, driver-only,
    no job) is memoized on the canonicalized plan — repeated calls over
    an identical frame pay it once per session."""
    from sedona_db_spark.operators.spatial_join import (
        _SEM_STATS_CACHE, _sem_cached)
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism

    def _nparts():
        try:
            return df.rdd.getNumPartitions()
        except Exception:
            return target  # unknown layout: leave the frame alone
    n = _sem_cached(_SEM_STATS_CACHE, df, ("nparts",), _nparts)
    if n >= target:
        return df
    return df.repartition(target, *[F.col(c) for c in (key_col, *more_keys)])
