"""Output checks computed apart from the engine.

- ``pages_pip``: a numpy closed-box / crossing-number point-in-polygon
  count per region over the geocoded page coordinates.
- ``grid_ingest``: a numpy polygon-intersects brute force over the
  committed parcels and the zoning layer.
- the headline queries: DuckDB running each query's ``ORACLE_SQL`` over
  the same parquet, compared by row count and an order-insensitive hash.

None of this uses ``sedona_db_spark.geometry``: polygons are read from
their WKB bytes here.  DuckDB answers are cached as (row count, hash)
keyed on the SQL text and the bytes of every input table; run

    python3 perfbench/checks.py --refresh-oracle --seed 1 --seed 2

to recompute the cached answers for those seeds.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import struct
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_PATH = os.path.join(HERE, "_cache", "oracle.json")

# points closer than this (degrees) to a polygon edge may fall either way
# under floating point; the check accepts both answers for them
EDGE_EPS = 1e-9


# ---------------------------------------------------------------------------
# WKB polygons
# ---------------------------------------------------------------------------

def polygon_rings(wkb: bytes) -> list[np.ndarray]:
    """Rings of a little-endian 2-D WKB Polygon as (n, 2) float arrays."""
    buf = bytes(wkb)
    order, gtype, nrings = struct.unpack_from("<BII", buf, 0)
    if order != 1 or gtype != 3:
        raise ValueError(f"expected a little-endian Polygon, got {order}/{gtype}")
    off, rings = 9, []
    for _ in range(nrings):
        (npts,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings.append(np.frombuffer(buf, "<f8", 2 * npts, off).reshape(npts, 2))
        off += 16 * npts
    return rings


def _edges(rings) -> np.ndarray:
    """All ring edges as an (m, 4) array of x1, y1, x2, y2."""
    return np.vstack([np.hstack([r[:-1], r[1:]]) for r in rings])


def crossing_inside(px, py, edges) -> np.ndarray:
    """Even-odd crossing-number test of points against a set of edges."""
    inside = np.zeros(len(px), dtype=bool)
    for x1, y1, x2, y2 in edges:
        spans = (y1 > py) != (y2 > py)
        if not spans.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= spans & (px < xint)
    return inside


def edge_distance(px, py, edges) -> np.ndarray:
    """Distance of each point to the nearest edge."""
    best = np.full(len(px), np.inf)
    for x1, y1, x2, y2 in edges:
        dx, dy = x2 - x1, y2 - y1
        ll = dx * dx + dy * dy
        t = np.clip(((px - x1) * dx + (py - y1) * dy) / ll, 0.0, 1.0) if ll else 0.0
        best = np.minimum(best, np.hypot(px - (x1 + t * dx), py - (y1 + t * dy)))
    return best


def _is_axis_rect(rings) -> bool:
    if len(rings) != 1 or len(rings[0]) != 5:
        return False
    r = rings[0]
    d = np.diff(r, axis=0)
    return bool(np.all((d[:, 0] == 0) | (d[:, 1] == 0)))


def pip_counts(lon: np.ndarray, lat: np.ndarray, polys: dict) -> dict:
    """Per polygon id: (points surely covered, points within EDGE_EPS of an
    edge).  Covered means inside or on the boundary (closed semantics)."""
    order = np.argsort(lon, kind="stable")
    slon = lon[order]
    out = {}
    for pid, wkb in polys.items():
        rings = polygon_rings(wkb)
        xs = np.concatenate([r[:, 0] for r in rings])
        ys = np.concatenate([r[:, 1] for r in rings])
        lo = np.searchsorted(slon, xs.min(), "left")
        hi = np.searchsorted(slon, xs.max(), "right")
        idx = order[lo:hi]
        idx = idx[(lat[idx] >= ys.min()) & (lat[idx] <= ys.max())]
        if _is_axis_rect(rings):
            out[pid] = (len(idx), 0)    # the closed-box test is exact
            continue
        e = _edges(rings)
        px, py = lon[idx], lat[idx]
        near = edge_distance(px, py, e) <= EDGE_EPS
        inside = crossing_inside(px, py, e)
        out[pid] = (int((inside & ~near).sum()), int(near.sum()))
    return out


# ---------------------------------------------------------------------------
# polygon-polygon intersects
# ---------------------------------------------------------------------------

def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def edges_cross(ea: np.ndarray, eb: np.ndarray) -> bool:
    """True if any edge of ``ea`` meets any edge of ``eb`` (closed)."""
    a1x, a1y, a2x, a2y = (ea[:, i][:, None] for i in range(4))
    b1x, b1y, b2x, b2y = (eb[:, i][None, :] for i in range(4))
    d1 = _orient(b1x, b1y, b2x, b2y, a1x, a1y)
    d2 = _orient(b1x, b1y, b2x, b2y, a2x, a2y)
    d3 = _orient(a1x, a1y, a2x, a2y, b1x, b1y)
    d4 = _orient(a1x, a1y, a2x, a2y, b2x, b2y)
    return bool(np.any((d1 * d2 <= 0) & (d3 * d4 <= 0)
                       & ((d1 != 0) | (d2 != 0))))


class Shape:
    """A polygon prepared for the brute-force intersects test."""

    def __init__(self, wkb: bytes):
        rings = polygon_rings(wkb)
        self.edges = _edges(rings)
        self.first = rings[0][0]
        pts = np.vstack(rings)
        self.bbox = (pts[:, 0].min(), pts[:, 1].min(),
                     pts[:, 0].max(), pts[:, 1].max())

    def intersects(self, other: "Shape") -> bool:
        a, b = self.bbox, other.bbox
        if a[0] > b[2] or b[0] > a[2] or a[1] > b[3] or b[1] > a[3]:
            return False
        if edges_cross(self.edges, other.edges):
            return True
        # no boundary contact: one lies wholly inside the other, or apart
        x, y = self.first
        if crossing_inside(np.array([x]), np.array([y]), other.edges)[0]:
            return True
        x, y = other.first
        return bool(crossing_inside(np.array([x]), np.array([y]), self.edges)[0])


def rect_shape(xmin, ymin, xmax, ymax) -> Shape:
    ring = [(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]
    wkb = struct.pack("<BIII", 1, 3, 1, 5) + b"".join(
        struct.pack("<dd", x, y) for x, y in ring)
    return Shape(wkb)


def intersecting_pairs(left: dict, right: dict) -> set:
    """{(left id, right id)} of intersecting shapes, by brute force over
    the pairs whose bounding boxes overlap."""
    rids = np.array(list(right))
    rb = np.array([right[r].bbox for r in rids]).reshape(-1, 4)
    pairs = set()
    for lid, s in left.items():
        x0, y0, x1, y1 = s.bbox
        hit = rids[(rb[:, 0] <= x1) & (rb[:, 2] >= x0)
                   & (rb[:, 1] <= y1) & (rb[:, 3] >= y0)]
        for rid in hit:
            if s.intersects(right[rid]):
                pairs.add((lid, int(rid)))
    return pairs


# ---------------------------------------------------------------------------
# DuckDB oracle with a recomputable cache
# ---------------------------------------------------------------------------

def canon_hash(df) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a pandas frame: columns in
    name order, each value stringified, rows sorted."""
    cols = sorted(df.columns)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(float(v))
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        return str(v)
    rows = sorted("\x1f".join(norm(v) for v in row)
                  for row in df[cols].itertuples(index=False))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return len(rows), h


def _file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class Oracle:
    """DuckDB answers for the suite's ORACLE_SQL over one set of tables."""

    def __init__(self, table_paths: list[str], refresh: bool = False):
        self.paths = sorted(table_paths)
        self.refresh = refresh
        self.inputs = "|".join(f"{os.path.basename(p)}:{_file_digest(p)}"
                               for p in self.paths)
        self._con = None
        self.cache = {}
        if os.path.exists(CACHE_PATH):
            with open(CACHE_PATH) as f:
                self.cache = json.load(f)
        self.dirty = False

    def _connect(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            for p in self.paths:
                name = os.path.basename(p)[:-len(".parquet")]
                self._con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
        return self._con

    def answer(self, sql: str) -> tuple[int, str]:
        key = hashlib.sha256((sql + "\0" + self.inputs).encode()).hexdigest()
        hit = self.cache.get(key)
        if hit is None or self.refresh:
            hit = list(canon_hash(self._connect().sql(sql).df()))
            self.cache[key] = hit
            self.dirty = True
        return hit[0], hit[1]

    def save(self) -> None:
        if self.dirty:
            os.makedirs(os.path.dirname(CACHE_PATH), exist_ok=True)
            tmp = CACHE_PATH + f".tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, CACHE_PATH)
        if self._con is not None:
            self._con.close()
            self._con = None


def _refresh_main(argv=None) -> int:
    """Recompute the cached DuckDB answers for the given seeds."""
    import shutil
    import tempfile
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--refresh-oracle", action="store_true", required=True)
    ap.add_argument("--seed", type=int, action="append", required=True)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, os.path.dirname(HERE)]
    import datagen
    from bench import HEADLINE
    from sedona_db_spark.plans.demo_queries import ORACLE_SQL
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="oracle-", dir=os.path.join(HERE, "_work"))
    try:
        for seed in args.seed:
            paths = datagen.write_tables(os.path.join(work, str(seed)), seed)
            oracle = Oracle(paths, refresh=True)
            for name in HEADLINE:
                rows, _ = oracle.answer(ORACLE_SQL[name])
                print(f"seed {seed} {name}: {rows} rows")
            oracle.save()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(_refresh_main())
