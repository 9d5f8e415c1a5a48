#!/usr/bin/env python
"""Build sedona_db_spark.zip for spark-submit --py-files deployment.

The zip goes to dist/ unless an output directory is given.

Usage:
    python tools/package.py [OUT_DIR]
    spark-submit --py-files dist/sedona_db_spark.zip examples/pip_join_job.py
"""

from __future__ import annotations

import argparse
import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out_dir: str | None = None) -> str:
    dist = out_dir or os.path.join(ROOT, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "sedona_db_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(ROOT, "sedona_db_spark")
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    print(out)
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir", nargs="?", default=None,
                    help="directory to write the zip into (default: dist/)")
    main(ap.parse_args().out_dir)
