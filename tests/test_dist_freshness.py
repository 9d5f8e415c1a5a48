"""Deployment-artifact freshness gate (round-7 VERDICT #3): the round-6
review found ``dist/sedona_db_spark.zip`` silently carrying round-5 code
(missing sql_frontend.py / winding_batch.py, stale media.py/buffer.py) —
anyone following the README's ``spark-submit --py-files`` path got old
code.  This test pins the zip's namelist AND per-file bytes against the
live package tree so the artifact can never drift again.

``dist/`` is not committed, so each run builds its own zip with
``tools/package.py`` (in a child process, as the docs say to run it) and
checks that; a local ``dist/sedona_db_spark.zip`` is checked too whenever
it exists, so a stale one still fails: rebuild with
``python tools/package.py`` after editing the package."""

import os
import subprocess
import sys
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP = os.path.join(ROOT, "dist", "sedona_db_spark.zip")


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """(out_dir, printed path) of a fresh ``tools/package.py OUT_DIR`` run."""
    out_dir = str(tmp_path_factory.mktemp("dist"))
    run = subprocess.run(
        [sys.executable, os.path.join("tools", "package.py"), out_dir],
        cwd=ROOT, capture_output=True, text=True, check=True)
    return out_dir, run.stdout.strip()


def _zips(built) -> list[str]:
    """The freshly built zip, plus the local dist/ zip when there is one."""
    return [built[1]] + ([ZIP] if os.path.exists(ZIP) else [])


def _tree_files() -> dict[str, int]:
    out = {}
    pkg = os.path.join(ROOT, "sedona_db_spark")
    for dirpath, _dirnames, filenames in os.walk(pkg):
        if "__pycache__" in dirpath:
            continue
        for fn in filenames:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                out[os.path.relpath(full, ROOT)] = os.path.getsize(full)
    return out


def test_zip_exists(built):
    out_dir, printed = built
    assert printed == os.path.join(out_dir, "sedona_db_spark.zip")
    assert os.path.exists(printed), \
        f"tools/package.py printed {printed} but wrote no zip there"


def test_zip_namelist_matches_tree(built):
    tree = _tree_files()
    for path in _zips(built):
        with zipfile.ZipFile(path) as z:
            zipped = {i.filename: i.file_size for i in z.infolist()}
        missing = sorted(set(tree) - set(zipped))
        extra = sorted(set(zipped) - set(tree))
        assert not missing and not extra, \
            f"{path} drifted: missing={missing} extra={extra} — " \
            f"rerun tools/package.py"


def test_zip_bytes_match_tree(built):
    # byte-identical, not just same size: a same-length edit must fail too
    for path in _zips(built):
        with zipfile.ZipFile(path) as z:
            for name in z.namelist():
                with open(os.path.join(ROOT, name), "rb") as f:
                    assert z.read(name) == f.read(), \
                        f"{name} stale in {path} — rerun tools/package.py"
