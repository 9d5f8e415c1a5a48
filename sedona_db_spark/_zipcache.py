"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every Python task (``pyspark/worker_util.py``, ``setup_spark_files``).  On
Python < 3.12 that makes every ``zipimporter`` in
``sys.path_importer_cache`` eagerly re-read its archive's central
directory: one importer per imported subpackage of ``pyspark.zip`` and of
the spark-core jar (5k+ entries), 16 importers in a worker that has run a
pandas UDF.  Measured on a 4-core host with Python 3.11, one such call
took 0.18-0.22 s, and a 1-row Python task took 0.27 s from job submit to
user code (0.08 s with this module; ``python bench_extra.py pyfloor``).

``install()`` wraps ``zipimporter.invalidate_caches``: when the archive's
``(st_ino, st_mtime_ns, st_size)`` is the one seen when its directory was
last read, the importer takes that directory and returns; otherwise the
original method runs, so a rewritten archive is still re-read (and an
``addPyFile`` archive, a new path, gets a fresh importer as before).
Called once per process at package import; each reused Spark Python
worker imports the package when it unpickles a UDF, so it pays the
re-read once, not once per task.  CPython 3.12 made this invalidation
lazy, so there ``install()`` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stat signature, directory dict read at that signature)
_read: dict = {}


def install() -> bool:
    """Idempotently wrap ``zipimporter.invalidate_caches``; True if the
    wrapper is in place."""
    if sys.version_info >= (3, 12):
        return False
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_sedona_zipcache", False):
        return True

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            _read.pop(self.archive, None)
            return original(self)
        sig = (st.st_ino, st.st_mtime_ns, st.st_size)
        seen = _read.get(self.archive)
        if seen is not None and seen[0] == sig:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        # stat taken before the read: a write racing the read leaves a
        # signature that the next call sees as changed
        original(self)
        _read[self.archive] = (sig, self._files)

    invalidate_caches._sedona_zipcache = True
    cls.invalidate_caches = invalidate_caches
    return True
