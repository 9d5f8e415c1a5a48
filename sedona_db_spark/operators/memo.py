"""Session memos of planning statistics and broadcast build sides.

Statistics (counts, point-kind flags) are memoized per CANONICALIZED plan
and input-file fingerprint, the same class of memo as Spark's own catalog
statistics: a query function invoked repeatedly in one session rebuilds
identical plans.  The one memo of data, ``_BUILD_SIDES``, holds broadcast
build sides collected from plans over sources that cannot change under
them (``_stable_plan``); no query RESULT is ever cached.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_MEMO_COUNTS: dict[str, dict[str, int]] = {}   # memo name -> hit/miss

# the broadcast tiers' budget for collected build geometry bytes, and the
# summed weight a weighed memo keeps
_BROADCAST_GEOM_BYTES = 512 * 1024 * 1024


class _Memo(OrderedDict):
    """Least-recently-used memo: at most ``max_entries`` entries and,
    when ``weigh`` is given, at most ``_BROADCAST_GEOM_BYTES`` of summed
    weight.  Evicted values are dropped, never destroyed: DataFrames
    returned earlier may still read their checkpoints and broadcasts."""

    def __init__(self, name: str, max_entries: int = 256, weigh=None):
        super().__init__()
        self.max_entries, self.weigh = max_entries, weigh
        self.lock = threading.Lock()
        self.counts = _MEMO_COUNTS.setdefault(name, {"hit": 0, "miss": 0})

    def touch(self, key):
        """The entry under ``key``, now the most recently used, or None."""
        with self.lock:
            hit = self.get(key)
            if hit is not None:
                self.move_to_end(key)
            return hit

    def tally(self, outcome: str) -> None:
        with self.lock:
            self.counts[outcome] += 1

    def discard_if(self, stale) -> None:
        """Drop every entry whose value ``stale`` says is dead."""
        with self.lock:
            for key in [k for k, v in self.items() if stale(v)]:
                del self[key]

    def put(self, key, value) -> None:
        with self.lock:
            self[key] = value
            self.move_to_end(key)
            while self and (len(self) > self.max_entries or (
                    self.weigh is not None
                    and sum(map(self.weigh, self.values()))
                    > _BROADCAST_GEOM_BYTES)):
                self.popitem(last=False)

    def session_cached(self, spark, key, compute):
        """``compute()``, memoized under ``key`` for the session ``spark``:
        only the same session object hits (a new session may reuse the id
        of a stopped one)."""
        hit = self.touch((id(spark), key))
        if hit is not None and hit[0] is spark:
            self.tally("hit")
            return hit[1]
        self.tally("miss")
        val = compute()
        self.put((id(spark), key), (spark, val))
        return val


def _input_fingerprint(df: DataFrame) -> tuple | None:
    """Sorted input file paths with (size, mtime_ns), or None when some
    input is not a local ``file:`` path that ``os.stat`` reads: a remote
    file rewritten under its name would look unchanged.  Spark's
    file-index equality compares only root paths, so a re-read of an
    appended directory is sameSemantics with the old frame; this tells
    the two apart.  Lists on the driver, starts no job."""
    out = []
    for p in sorted(df.inputFiles()):
        if not p.startswith("file:"):
            return None
        try:
            st = os.stat(unquote(urlparse(p).path))
        except OSError:
            return None
        out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _stable_plan(df: DataFrame) -> bool:
    """True for a deterministic plan whose analyzed leaves are all local
    rows, RDDs, ranges or relations over local ``file:`` paths (whose
    size and mtime the memo key fingerprints): sources that cannot change
    under an equal plan.  Remote files cannot be fingerprinted: not
    stable."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.deterministic():
            return False
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            kind = leaf.getClass().getSimpleName()
            if kind == "LogicalRelation":
                kind = leaf.relation().getClass().getSimpleName()
                if not all(p.startswith("file:") for p in df.inputFiles()):
                    return False
            if kind not in ("LocalRelation", "LogicalRDD", "Range",
                            "HadoopFsRelation"):
                return False
        return True
    except Exception:
        return False


def _session_stopped(hit) -> bool:
    """Whether the frame memoized in ``hit`` belongs to a stopped session."""
    return getattr(hit[0].sparkSession.sparkContext, "_jsc", None) is None


def _sem_cached(cache: _Memo, df: DataFrame, tag, compute,
                stable_only: bool = False, valid=None, keep=None):
    """Memo helper: key on (semanticHash, input files, session, tag),
    verify with sameSemantics (hash collisions can alias distinct plans),
    the session and ``valid(value)`` if given, else compute and store
    (unless ``keep(value)`` says not to).  An input without a fingerprint
    is never memoized; ``stable_only`` memoizes only ``_stable_plan``
    frames.  With ``compute=None`` it only looks up, uncounted: a miss
    returns None.  A miss also drops the entries of stopped sessions."""
    session = df.sparkSession
    try:
        files = _input_fingerprint(df)
        key = (None if files is None else
               (df.semanticHash(), files, id(session), tag))
    except Exception:
        key = None
    if key is None or (stable_only and not _stable_plan(df)):
        if compute is None:
            return None
        cache.tally("miss")
        return compute()
    hit = cache.touch(key)
    try:
        if (hit is not None and hit[0].sparkSession is session
                and hit[0].sameSemantics(df)
                and (valid is None or valid(hit[1]))):
            if compute is not None:
                cache.tally("hit")
            return hit[1]
    except Exception:
        # a cached frame from a stopped session can refuse comparison —
        # treat as a miss and overwrite below
        pass
    if compute is None:
        return None
    cache.tally("miss")
    cache.discard_if(_session_stopped)
    val = compute()
    if keep is None or keep(val):
        cache.put(key, (df, val))
    return val


_SEM_STATS_CACHE = _Memo("stats")
_SEM_POINT_CACHE = _Memo("probe_kind")
# broadcast build sides, weighed by the WKB held on the driver, the
# checkpoint held by the executors and the cached JVM cell and leaf tables
_BUILD_SIDES = _Memo("build_side", weigh=lambda hit: hit[1].weight())
