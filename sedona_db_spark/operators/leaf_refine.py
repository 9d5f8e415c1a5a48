"""Exact, lambda-free refine for the all-JVM broadcast tier.

The all-JVM tier (``jvm_join._jvm_join``) joins a lon/lat probe's grid
cell to a broadcast table of build rows.  Refining a polygon row per
probe with higher-order functions over its edge arrays would keep the
whole cell join out of whole-stage codegen (lambdas are
``CodegenFallback`` in Spark), although only a small share of the
candidates sit near an edge.  This module sorts every (cell, build row)
pair on the driver instead, as Raster Intervals (SIGMOD 2023) and Cabin
(SIGMOD 2024) sort cells into full, partial and empty:

- coarse cells at the join resolution ``res`` that touch the boundary of
  a non-box row are split into leaves one finer level down, ``res + s``;
  the probe key takes the fine cell inside those coarse cells
  (``cell_expr_sql`` at both levels nests exactly: the fine index is the
  coarse index times 2^s plus the offset, as multiplying by 2^res is
  exact in IEEE doubles);
- each (leaf, build row) pair is BOX (rects and points: the interval
  test, or the clamp distance under ``dwithin``), FULL (every probe that
  lands in the leaf matches), EDGE (a slot test over at most
  ``LEAF_EDGES`` edges and ``LEAF_TOGGLES`` toggles) or dropped (no probe
  that lands in the leaf matches).

Why the slot test equals ``kernels.points_in_geom`` bit for bit, for a
probe p that lands in a leaf [X0, X1] x [Y0, Y1] (the cell assignment
puts p within a few ulps of the box; the margin ``m`` is far wider):

- an edge above or below the leaf by more than m neither toggles nor
  holds p;
- an edge whose part inside the leaf's y band (widened by m) lies left
  of X0 - m never toggles (the kernel's ``px < x_int`` fails: ``x_int``
  strays from the edge by at most a few ulps) and p is never on it;
- an edge whose part inside that band lies right of X1 + m toggles
  exactly when ``(ay > py) != (by > py)`` and p is never on it; XOR
  over a ring's right edges telescopes to ``(y > py)`` over the vertices
  with exactly one right edge, and a vertex above Y1 + m or below
  Y0 - m folds into one constant bit;
- p is on an edge only within the kernel's on-edge tolerance of it: an
  edge short enough for that tolerance to approach m is placed by its
  bbox instead, which p lies outside unless the edge is local;
- every other edge is local and runs the kernel's own arithmetic on
  ``dx, dy``, min/max and the on-edge tolerance, computed here in Python
  floats (IEEE doubles, as numpy's).

A leaf whose rings other than one are all constant reduces to that
ring's parity bit ``v`` and an on-edge bit: its row matches when
``on OR T[v]`` (intersects, coveredby) or ``NOT on AND T[v]`` (within),
with ``T`` a 2-entry truth table over the polygon's parts and holes.
Rings that stay more than 2m apart are nested or apart, so a probe lies
in one of them and the rings around it, and is within ulps of at most
one: when the polygon test is a function of the parity over all the
leaf's rings on those sets, ``v`` is that parity.

Under ``dwithin`` (``kernels.geom_dwithin``) the leaves are cut from the
cell rows at the pad, the largest distance a probe carries.  A non-box
pair holds bounds on the kernel's distance of any probe in its leaf,
taken over the leaf widened by m: ``lo`` (0 where the leaf meets the
polygon, else the distance to the nearest edge's bbox) and ``hi`` (0
inside the polygon, else the smallest over edges of the largest corner
distance).  A probe lies m deep inside the widened leaf, and a segment's
distance is convex and grows at unit rate away from it, so the probe's
distance lies within [lo + m, hi - m]: m is far wider than the rounding
of either side.  A pair is dropped when ``lo`` exceeds the pad, FULL
when ``hi`` is at most the smallest distance that can match (a literal
distance, or 0 for a probe column), and otherwise matches when
``d >= hi``, or behind the kernel's bbox prefilter when ``d >= lo`` (so
``d >= 0``) and its slot holds (the leaf meets the polygon, and the
probe is inside or on it), or some near edge lies within d, clamp then
``hypot`` as the kernel.  The near edges are rows of their own table
(``near_rows``), which the cell join reaches by a left semi join: an
EDGE leaf may hold any number of them, as the kernel's smallest distance
is the smallest over any set of edges that holds every probe's nearest
one.  Its near edges are those within pad + m of the leaf that no other
edge dominates: an edge farther from the leaf than another edge's
largest distance to it, plus m, is nearest to no probe there.

Probes outside the world (or with a NaN coordinate) clamp into the
grid-border cells.  An EDGE pair takes the row's bbox test (the kernel's
prefilter under dwithin), which such a probe fails while the row's bbox,
padded by pad + m under dwithin, lies inside the world.  No FULL leaf
lies in a border cell then: its side on the world's edge would hold
boundary points of the polygon (a local edge), or under dwithin a point
within the pad of the leaf would lie past the world.

The split level is the smallest whose leaves fit ``LEAF_EDGES`` local
edges and ``LEAF_TOGGLES`` toggles; a side no level fits takes the
finest with slots as wide as its widest leaf.  A side cannot be
decomposed (``Leaves.reason``: the planner passes the all-JVM tier
over) with a non-finite coordinate, a bbox past the world, touching
rings (two rings within 2m of each other in a finest leaf), or a finest
leaf past the wide slots (``_WIDE``, ``_WIDE_DWITHIN``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from sedona_db_spark import grid
from sedona_db_spark.geometry import kernels as K

# The slot test's size is fixed: its generated code stays small enough
# for the JIT (eight edges and five toggles at res 5 measured 20x slower).
LEAF_EDGES = 2          # local edges per EDGE leaf
LEAF_TOGGLES = 4        # right-side toggles per EDGE leaf
MAX_LEAF_SPLIT = 4      # the finest leaf level is res + MAX_LEAF_SPLIT
# a side no level fits in that budget takes its finest level with slots
# up to this wide (edges, toggles): the refine's stage then stays under
# the JIT's 8000-byte method limit, past which the fused tier is faster.
# On 4M lon/lat probes over a 100-polygon layer (4 cores), 5 edges took
# 7,062 bytes and 1.1 s (fused: 9.3 s); under dwithin, whose slot columns
# are never NULL, 7 edges took 6,613 bytes and 3.4 s (fused: 13.6 s)
_WIDE = (5, LEAF_TOGGLES)
_WIDE_DWITHIN = (7, LEAF_TOGGLES)
_MAX_FINE_CELLS = 1 << 19  # refined coarse cells x 4^split
# relative to a row's largest coordinate (at least 360): millions of
# times the rounding error of the cell assignment and of the kernel's
# x intercept, and far below any leaf's size
_MARGIN = 1e-9

BOX, FULL, EDGE = 0, 1, 2
# the leaf table's columns the cell join reads, and under dwithin the
# distance bounds
CELL_COLS = ("__cell", "__ridx", "__kind", "__x0", "__y0", "__x1", "__y1",
             "__slot")
DIST_COLS = ("__dlo", "__dhi")
_EDGE_COLS = ("ax", "ay", "by", "dx", "dy", "mnx", "mxx", "mny", "mxy", "tol")
# an unused edge slot never toggles (ay = by) and holds no probe
_NO_EDGE = (0.0, 0.0, 0.0, 0.0, 0.0, np.inf, -np.inf, np.inf, -np.inf, 0.0)
# the near table: a slot id and one distance edge (``near_test_sql``)
NEAR_COLS = ("__nslot", "__nax", "__nay", "__ndx", "__ndy", "__nll")
# the pass slot (under dwithin) and near row: the rows that need no slot
# test, and the candidates that matched already, key them
PASS = -1


def _seg_dist(px, py, e: np.ndarray) -> np.ndarray:
    """Distances from points to the edges ``e`` (E, 4) along the last
    axis, in the kernel's arithmetic (``kernels.points_seg_dist``; a
    zero-length edge is its point)."""
    ax, ay, bx, by = e.T
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / np.where(ll > 0, ll, 1.0),
                0.0, 1.0)
    return np.hypot(px - (ax + t * dx), py - (ay + t * dy))


def _fold(xy, cyclic: bool) -> tuple:
    """The kernel's edges through the vertices ``xy`` (closed by i -> i+1
    mod n when ``cyclic``) as an (E, 4) array without the zero-length
    ones unless all are, and per edge whether a zero-length edge at its
    start was folded into it.  A zero-length edge never toggles, a probe
    on it is on the next edge too (whose cross product there is exactly
    0), and its distance is the next edge's start's point distance."""
    r = np.asarray(xy, dtype=np.float64).reshape(-1, 2)
    e = np.c_[r, np.roll(r, -1, axis=0)] if cyclic else np.c_[r[:-1], r[1:]]
    zero = (e[:, 0] == e[:, 2]) & (e[:, 1] == e[:, 3])
    vertex = np.zeros(len(e), dtype=bool)
    if zero.all():
        return e, vertex
    for i in np.flatnonzero(zero):
        nxt = [j % len(e) for j in range(i + 1, len(e) + i * cyclic)
               if not zero[j % len(e)]]
        vertex[nxt[:1]] = True
        zero[i] = bool(nxt)         # a line's repeated last vertex stays
    return e[~zero], vertex[~zero]


def _gap(a: np.ndarray, b: np.ndarray) -> float:
    """The smallest distance between two edge sets (E, 4), 0 where two
    edges cross."""
    d = min(_seg_dist(e[:, i:i + 1], e[:, i + 1:i + 2], f).min()
            for e, f in ((a, b), (b, a)) for i in (0, 2))

    def side(e, px, py):
        ax, ay, bx, by = (v[:, None] for v in e.T)
        return np.sign((bx - ax) * (py - ay) - (by - ay) * (px - ax))
    ab = side(a, b[:, 0], b[:, 1]) * side(a, b[:, 2], b[:, 3])
    ba = side(b, a[:, 0], a[:, 1]) * side(b, a[:, 2], a[:, 3])
    return 0.0 if ((ab < 0) & (ba < 0).T).any() else float(d)


class _Shape:
    """A build geometry as rings (edge arrays in ring order, each ring
    closed as a cycle), its parts as (shell ring, hole rings), and paths
    (lines, and points as zero-length edges) that only hold probes.
    ``dist`` holds every edge (``kernels.points_to_geom_distance``), ring
    r's from ``offset[r]``, and ``vertex`` whether the kernel also takes
    an edge's start's point distance (a folded zero-length edge)."""

    def __init__(self, g):
        name = g[0]
        self.g, self.areal = g, name in ("Polygon", "MultiPolygon")
        self.rings, self.parts, self.paths = [], [], []
        folded = []
        if self.areal:
            for rs in ([g[1]] if name == "Polygon" else g[1]):
                ids = []
                for r in rs:
                    ids.append(len(self.rings))
                    folded.append(_fold(r, cyclic=True))
                    # the kernel's ring test skips a ring of one vertex
                    e = folded[-1][0]
                    self.rings.append(e if len(r) > 1 else e[:0])
                if ids:
                    self.parts.append((ids[0], ids[1:]))
        elif name in ("LineString", "MultiLineString"):
            for line in ([g[1]] if name == "LineString" else g[1]):
                folded.append(_fold(line, cyclic=False))
                self.paths.append(folded[-1][0])
        elif name == "MultiPoint":
            r = np.asarray(g[1], dtype=np.float64).reshape(-1, 2)
            folded.append((np.c_[r, r], np.zeros(len(r), dtype=bool)))
            self.paths.append(folded[-1][0])
        else:
            raise ValueError(name)
        self.offset = np.cumsum([0] + [len(e) for e, _ in folded])
        self.dist = np.concatenate([e for e, _ in folded] + [np.empty((0, 4))])
        self.vertex = np.concatenate([v for _, v in folded]
                                     + [np.empty(0, dtype=bool)])
        coords = [e for e in self.rings + self.paths if len(e)]
        big = max((float(np.abs(e).max()) for e in coords), default=0.0)
        self.finite = all(np.isfinite(e).all() for e in coords)
        self.margin = _MARGIN * max(360.0, big)

    def truth(self, parity: np.ndarray) -> np.ndarray:
        """The polygon test per leaf from each ring's parity (L x rings):
        a part holds p when its shell's parity is odd and no hole's is."""
        out = np.zeros(len(parity), dtype=bool)
        for shell, holes in self.parts:
            inside = parity[:, shell].copy()
            for h in holes:
                inside &= ~parity[:, h]
            out |= inside
        return out

    def classify(self, X0, Y0, X1, Y1, budget: tuple) -> dict:
        """Sort the leaves [X0, X1] x [Y0, Y1] (arrays) for this shape,
        with slots of at most ``budget`` (edges, toggles)."""
        m = self.margin
        x0, y0 = (X0 - m)[:, None], (Y0 - m)[:, None]
        x1, y1 = (X1 + m)[:, None], (Y1 + m)[:, None]
        n = len(X0)
        nloc = np.zeros(n, dtype=np.int64)
        nvar_rings = np.zeros(n, dtype=np.int64)
        var_ring = np.full(n, -1, dtype=np.int64)
        toggles = np.zeros(n, dtype=np.int64)
        bad = np.zeros(n, dtype=bool)
        parity = np.zeros((n, len(self.rings)), dtype=bool)
        local_of, var_of = [], []

        def local(e):
            """Which edges are local to each leaf, and which lie right
            of it: by the x range of the part of the edge inside the
            leaf's y band, or by the bbox for an edge so short that the
            kernel's on-edge tolerance could reach across the margin."""
            ax, ay, bx, by = e.T
            dx, dy = bx - ax, by - ay
            mnx, mxx = np.minimum(ax, bx), np.maximum(ax, bx)
            band = (np.minimum(ay, by) <= y1) & (np.maximum(ay, by) >= y0)
            clip = (dy != 0) & (1e-12 * np.maximum(1.0, np.abs(dx) + np.abs(dy))
                                < 0.25 * m * np.hypot(dx, dy))
            with np.errstate(divide="ignore", invalid="ignore"):
                ta, tb = (y0 - ay) / dy, (y1 - ay) / dy
                xa = ax + np.clip(np.minimum(ta, tb), 0.0, 1.0) * dx
                xb = ax + np.clip(np.maximum(ta, tb), 0.0, 1.0) * dx
            cx0 = np.where(clip, np.minimum(xa, xb), mnx)
            cx1 = np.where(clip, np.maximum(xa, xb), mxx)
            loc = band & (cx0 <= x1) & (cx1 >= x0)
            return loc, np.where(band, cx0 > x1, mnx > x1)

        for r, e in enumerate(self.rings):
            loc, right = local(e)
            # vertex k starts edge k and ends edge k-1: it ends a chain of
            # right edges when exactly one of the two is right
            ends = right != np.roll(right, 1, axis=1)
            above, below = e[:, 1] > y1, e[:, 1] < y0
            parity[:, r] = (ends & above).sum(axis=1) % 2 == 1
            var = ends & ~above & ~below
            nl, nv = loc.sum(axis=1), var.sum(axis=1)
            # a varying chain end always borders a local edge
            bad |= (nv > 0) & (nl == 0)
            has = nl > 0
            nloc += nl
            nvar_rings += has
            var_ring[has] = r
            toggles += np.where(has, (nv + 1) // 2, 0)
            local_of.append(loc)
            var_of.append(var)
        path_local = []
        for e in self.paths:
            loc, _ = local(e)
            nloc += loc.sum(axis=1)
            path_local.append(loc)
        ok = ~bad & (nloc <= budget[0]) & (toggles <= budget[1])
        truth = []
        for v in (False, True):
            p = parity.copy()
            rows = np.flatnonzero(var_ring >= 0)
            p[rows, var_ring[rows]] = v
            truth.append(self.truth(p))
        t0, t1 = truth
        const = np.zeros(n, dtype=bool)
        rows = np.flatnonzero(var_ring >= 0)
        const[rows] = parity[rows, var_ring[rows]]
        multi = {}
        for j in np.flatnonzero((nvar_rings > 1) & ok):
            rings = [r for r, loc in enumerate(local_of) if loc[j].any()]
            got = self._merge(parity[j], rings)
            ok[j] = got is not None
            if ok[j]:
                const[j], t0[j], t1[j] = got
                multi[j] = rings
        kind = np.where(t0 & t1, FULL,
                        np.where(nloc > 0, EDGE, np.where(t0, FULL, -1)))
        return {"ok": ok, "kind": kind, "t0": t0, "t1": t1, "p": const,
                "nloc": nloc, "toggles": toggles, "var_ring": var_ring,
                "multi": multi, "local": local_of, "var": var_of,
                "path_local": path_local, "refine": (nloc > 0) | ~ok}

    def rings_of(self, c: dict, leaf: int) -> list:
        """The rings with edges local to a leaf."""
        r = c["var_ring"][leaf]
        return c["multi"].get(leaf, [r] if r >= 0 else [])

    def _merge(self, parity: np.ndarray, rings: list) -> tuple | None:
        """A leaf's (constant bit, T[0], T[1]) over the parity of several
        rings with local edges, or None (touching rings): rings more than
        2m apart are nested or apart, so the sets of them a probe lies in
        are a ring and the rings around it, and T must be a function of
        the parity over those sets."""
        around = {r: set() for r in rings}
        for a in rings:
            for b in rings:
                if a < b and _gap(self.rings[a], self.rings[b]) <= 2 * self.margin:
                    return None
                vx, vy = self.rings[b][0, :2]
                if a != b and K.points_in_ring(np.array([vx]), np.array([vy]),
                                               self.rings[a][:, :2])[0]:
                    around[b].add(a)
        f = {}
        for sets in [set()] + [{r} | around[r] for r in rings]:
            p = parity.copy()
            p[rings] = [r in sets for r in rings]
            t = bool(self.truth(p[None, :])[0])
            if f.setdefault(len(sets) % 2, t) != t:
                return None
        return (bool(np.logical_xor.reduce(parity[rings])), f.get(0, False),
                f.get(1, False))

    def sort(self, X0, Y0, X1, Y1, dw: tuple | None, budget: tuple) -> dict:
        """Classify the leaves [X0, X1] x [Y0, Y1]: ``kind`` (FULL, EDGE,
        or -1 for dropped), ``ok`` and ``refine`` (a coarse cell to split)
        per leaf, for slots of at most ``budget`` (edges, toggles).  Under
        dwithin (``dw`` = (pad, dmin): the largest distance and the
        smallest that can match) also the bounds ``lo`` and ``hi``, ``pip``
        (the leaf's kind under the polygon test) and ``near`` (leaves x
        ``dist`` edges: which are near)."""
        c = self.classify(X0, Y0, X1, Y1, budget)
        if dw is None:
            return c
        pad, dmin = dw
        m, e, n = self.margin, self.dist, len(X0)
        x0, y0 = (X0 - m)[:, None], (Y0 - m)[:, None]
        x1, y1 = (X1 + m)[:, None], (Y1 + m)[:, None]
        # per leaf and edge, a lower bound of their distance (the edge's
        # bbox's), and an upper bound (the largest at a corner)
        near = np.hypot(
            np.maximum(np.maximum(np.minimum(e[:, 0], e[:, 2]) - x1,
                                  x0 - np.maximum(e[:, 0], e[:, 2])), 0.0),
            np.maximum(np.maximum(np.minimum(e[:, 1], e[:, 3]) - y1,
                                  y0 - np.maximum(e[:, 1], e[:, 3])), 0.0))
        far = np.maximum.reduce([_seg_dist(cx, cy, e) for cx in (x0, x1)
                                 for cy in (y0, y1)])
        lo = near.min(axis=1, initial=np.inf)
        hi = far.min(axis=1, initial=np.inf)
        # the near edges: an edge farther from the leaf than another
        # edge's largest distance is nearest to no probe there
        c["near"] = (near <= pad + m) & (near <= hi[:, None] + m)
        pip = c["kind"] if self.areal else np.full(n, -1)
        lo[pip >= 0] = 0.0          # the leaf meets the polygon
        hi[pip == FULL] = 0.0       # it lies inside
        kind = np.where(lo > pad, -1, np.where(hi <= dmin, FULL, EDGE))
        ok = c["ok"] if self.areal else np.ones(n, dtype=bool)
        c.update(kind=kind, lo=lo, hi=hi, pip=pip, ok=ok,
                 refine=(kind == EDGE) | ~ok)
        return c

    def slot(self, c: dict, leaf: int) -> tuple:
        """An EDGE leaf's slot: its constant parity bit, truth table, local
        edges (ax, ay, bx, by) and the vertex ys of its varying toggles, in
        pairs (an odd count per ring pairs its last end with -inf, never
        above a probe).  Under dwithin only a leaf that meets the polygon
        has them, and lines hold probes by their near edges instead."""
        edges, ys = [], []
        dwithin = "near" in c
        inside = not dwithin or c["pip"][leaf] == EDGE
        for r in (self.rings_of(c, leaf) if inside else []):
            e = self.rings[r]
            edges.extend(e[c["local"][r][leaf]].tolist())
            v = e[c["var"][r][leaf], 1].tolist()
            ys += v + [-np.inf] * (len(v) % 2)
        for e, loc in zip(self.paths, [] if dwithin else c["path_local"]):
            edges.extend(e[loc[leaf]].tolist())
        return (bool(c["p"][leaf]) and inside, bool(c["t0"][leaf]) and inside,
                bool(c["t1"][leaf]) and inside, edges, ys)


def _edge_values(E: np.ndarray, n: np.ndarray) -> list:
    """The slot columns of the edges ``E`` (slots x width x (ax, ay, bx,
    by)), the first ``n`` of each slot in use, in the kernel's
    arithmetic."""
    ax, ay, bx, by = np.moveaxis(E, -1, 0)
    dx, dy = bx - ax, by - ay + 0.0
    vals = [ax, ay, by, dx, dy, np.minimum(ax, bx), np.maximum(ax, bx),
            np.minimum(ay, by), np.maximum(ay, by),
            1e-12 * np.maximum(1.0, np.abs(dx) + np.abs(by - ay))]
    used = np.arange(E.shape[1]) < n[:, None]
    return [np.where(used, v, u) for v, u in zip(vals, _NO_EDGE)]


def _near_values(slot: np.ndarray, e: np.ndarray, vertex: np.ndarray) -> dict:
    """The near table's columns for the distance edges ``e`` (ax, ay, bx,
    by) of the slots ``slot``, in the kernel's arithmetic
    (``kernels.points_seg_dist``): ``ll`` is 1 for a zero-length edge, so
    its clamped projection is 0 and its distance the point distance.  An
    edge that folded a zero-length edge at its start (``vertex``) adds
    that point as one more row, as the kernel takes its distance too.
    The pass row comes first."""
    e = np.r_[e, np.c_[e[vertex, :2], e[vertex, :2]]]
    slot = np.r_[slot, slot[vertex]]
    dx, dy = e[:, 2] - e[:, 0], e[:, 3] - e[:, 1]
    ll = dx * dx + dy * dy
    cols = (slot, e[:, 0], e[:, 1], dx, dy, np.where(ll > 0, ll, 1.0))
    first = (PASS, 0.0, 0.0, 0.0, 0.0, 1.0)
    return {c: np.r_[np.array([f], dtype=v.dtype), v]
            for c, f, v in zip(NEAR_COLS, first, cols)}


class Leaves:
    """A build side's leaf tables at one coarse resolution, or the reason
    the side cannot be decomposed (``reason`` not None).  ``cell_rows``
    holds one row per kept (leaf, build row); ``slot_rows`` one row per
    EDGE slot; under dwithin ``near_rows`` one row per near edge of an
    EDGE slot.  ``cells``, ``slots`` and ``near`` are the Spark tables
    the caller makes from them.  ``dwithin`` says whether they carry the
    distance bounds and near edges."""

    def __init__(self, res: int, reason: str | None = None,
                 dwithin: bool = False):
        self.res, self.reason, self.dwithin = res, reason, dwithin
        self.split = 0
        self.refined: list = []
        self.cell_rows = self.slot_rows = self.near_rows = None
        self.cells = self.slots = self.near = None
        self.counts = {"box": 0, "full": 0, "edge": 0}
        self.max_edges = self.max_toggles = 0

    @property
    def fine_res(self) -> int:
        return self.res + self.split

    def nbytes(self) -> int:
        return sum(int(f.memory_usage(index=False).sum())
                   for f in (self.cell_rows, self.slot_rows, self.near_rows)
                   if f is not None)


def _boxes(ix, iy, res):
    w, h = grid.cell_width(res), grid.cell_height(res)
    return (-180.0 + ix * w, -90.0 + iy * h,
            -180.0 + (ix + 1) * w, -90.0 + (iy + 1) * h)


def build(cells: pd.DataFrame, geoms: list, boxes: set, res: int,
          dw: tuple | None = None) -> Leaves:
    """The leaf table of a build side from its coarse cell rows ``cells``
    (``__cell``, ``__ridx``, ``__pos`` and the bbox ``__x0..__y1``),
    its decoded geometries by position and the positions of its box rows
    (rects and points).  Under dwithin ``dw`` is (pad, dmin): the cell
    rows' pad, the largest distance, and the smallest that can match."""
    pad = 0.0 if dw is None else dw[0]
    rows = []
    for pos, grp in cells.groupby("__pos", sort=True):
        first = grp.iloc[0]
        rows.append((int(pos), int(first["__ridx"]),
                     tuple(float(first[c]) for c in
                           ("__x0", "__y0", "__x1", "__y1")),
                     grp["__cell"].to_numpy(dtype=np.int64)))
    shapes, coarse = {}, {}
    refined: set = set()
    for pos, _, (x0, y0, x1, y1), cs in rows:
        if pos in boxes:
            continue
        shape = shapes[pos] = _Shape(geoms[pos])
        if not shape.finite:
            return Leaves(res, "a non-finite coordinate")
        # probes outside the world must fail the row's bbox test
        w = 0.0 if dw is None else pad + shape.margin
        if not (x0 - w >= -180.0 and x1 + w <= 180.0
                and y0 - w >= -90.0 and y1 + w <= 90.0):
            return Leaves(res, "a geometry past the grid border")
        ix = (cs >> grid._X_SHIFT) & ((1 << 29) - 1)
        iy = cs & ((1 << 29) - 1)
        c = coarse[pos] = shape.sort(*_boxes(ix, iy, res), dw,
                                     (LEAF_EDGES, LEAF_TOGGLES))
        refined.update(cs[c["refine"]].tolist())
    out = Leaves(res, dwithin=dw is not None)
    out.refined = sorted(refined)
    if not refined:
        return _assemble(out, rows, shapes, coarse, {}, boxes)
    splits = [s for s in range(1, MAX_LEAF_SPLIT + 1)
              if res + s <= grid.MAX_RES
              and len(refined) << (2 * s) <= _MAX_FINE_CELLS]
    # the smallest split whose leaves fit the slot budget, else the
    # finest with wide slots
    tries = [(s, (LEAF_EDGES, LEAF_TOGGLES)) for s in splits]
    wide = _WIDE if dw is None else _WIDE_DWITHIN
    tries += [(s, wide) for s in splits[-1:]]
    for split, budget in tries:
        fine = _split(rows, shapes, boxes, refined, res, split, dw, budget)
        if fine is not None:
            out.split = split
            return _assemble(out, rows, shapes, coarse, fine, boxes)
    return Leaves(res, f"a leaf needs more than {wide[0]} local edges or "
                       f"{wide[1]} toggles, or holds touching rings, "
                       f"at res {res + (splits or [0])[-1]}")


def _split(rows, shapes, boxes, refined, res, split, dw, budget):
    """Each row's fine leaves inside the refined coarse cells, as
    {pos: (fine cell ids, classification or None for a box row)}, or
    None if some leaf cannot be decomposed at this level."""
    fine = res + split
    pad = 0.0 if dw is None else dw[0]
    out = {}
    for pos, _, (x0, y0, x1, y1), cs in rows:
        mine = [c for c in cs.tolist() if c in refined]
        if not mine:
            continue
        fx0, fx1, fy0, fy1 = grid._covering_range(x0 - pad, y0 - pad,
                                                  x1 + pad, y1 + pad, fine)
        ixs, iys = [], []
        for c in mine:
            _, cx, cy = grid.unpack(c)
            gx, gy = np.meshgrid(
                np.arange(max(fx0, cx << split),
                          min(fx1, ((cx + 1) << split) - 1) + 1),
                np.arange(max(fy0, cy << split),
                          min(fy1, ((cy + 1) << split) - 1) + 1),
                indexing="ij")
            ixs.append(gx.ravel())
            iys.append(gy.ravel())
        ix = np.concatenate(ixs).astype(np.int64)
        iy = np.concatenate(iys).astype(np.int64)
        c = None
        if pos not in boxes:
            c = shapes[pos].sort(*_boxes(ix, iy, fine), dw, budget)
            if not c["ok"].all():
                return None
        out[pos] = ((np.int64(fine) << grid._RES_SHIFT)
                    | (ix << grid._X_SHIFT) | iy, c)
    return out


def _assemble(out: Leaves, rows, shapes, coarse, fine, boxes) -> Leaves:
    """The leaf rows (each kept (leaf, build row) with its kind, bbox and,
    for an EDGE row, its slot id; under dwithin its distance bounds), the
    slot rows and under dwithin the near rows."""
    refined = np.asarray(out.refined, dtype=np.int64)
    parts, slots, near = [], [], []
    for pos, ridx, bbox, cs in rows:
        mine = [(cs, coarse.get(pos), ~np.isin(cs, refined))]
        if pos in fine:
            ids, c = fine[pos]
            mine.append((ids, c, np.ones(len(ids), dtype=bool)))
        for ids, c, keep in mine:
            kind = np.full(len(ids), BOX) if c is None else c["kind"]
            j = np.flatnonzero(keep & (kind >= 0))
            lohi = ((c["lo"][j], c["hi"][j]) if c is not None and out.dwithin
                    else (np.zeros(len(j)),) * 2)
            slot = np.full(len(j), -1)
            edge = kind[j] == EDGE      # only fine leaves have edges
            slot[edge] = len(slots) + np.arange(edge.sum())
            slots += [shapes[pos].slot(c, i) for i in j[edge].tolist()]
            if out.dwithin and edge.any():
                at, k = np.nonzero(c["near"][j[edge]])
                near.append((slot[edge][at], shapes[pos].dist[k],
                             shapes[pos].vertex[k]))
            parts.append((ids[j], np.full(len(j), ridx), kind[j],
                          *(np.full(len(j), v) for v in bbox), slot, *lohi))
    cols = list(CELL_COLS) + (list(DIST_COLS) if out.dwithin else [])
    data = [np.concatenate([p[k] for p in parts]) if parts else np.zeros(0)
            for k in range(len(cols))]
    out.cell_rows = pd.DataFrame(dict(zip(cols, data))).astype(
        {"__cell": "int64", "__ridx": "int64", "__kind": "int32",
         **{c: "float64" for c in cols[3:7] + cols[len(CELL_COLS):]}})
    slot = data[len(CELL_COLS) - 1].astype(np.int64)
    if out.dwithin and slots:
        # every row keys a slot, the pass slot if it is not EDGE: the
        # slot join is then an inner join, and its columns are not NULL
        slots.append((False, False, False, [], []))
    else:
        out.cell_rows["__slot"] = pd.arrays.IntegerArray(slot, slot < 0)
    out.max_edges = width = max((len(s[3]) for s in slots), default=0)
    out.max_toggles = max((len(s[4]) // 2 for s in slots), default=0)
    if slots:
        # (ax, ay, bx, by); unused toggle pairs are (0, 0)
        E = np.zeros((len(slots), width, 4))
        ys = np.zeros((len(slots), 2 * out.max_toggles))
        for i, (_, _, _, edges, y) in enumerate(slots):
            if edges:
                E[i, :len(edges)] = edges
            ys[i, :len(y)] = y
        data = {"__slot": np.r_[np.arange(len(slots) - out.dwithin),
                                [PASS] * out.dwithin].astype(np.int64),
                **{c: np.array([s[k] for s in slots], dtype=bool)
                   for k, c in enumerate(("__lp", "__t0", "__t1"))}}
        vals = _edge_values(E, np.array([len(s[3]) for s in slots]))
        for k in range(width):
            data.update((f"__{c}{k}", v[:, k]) for c, v in zip(_EDGE_COLS, vals))
        for t in range(out.max_toggles):
            data[f"__ta{t}"], data[f"__tb{t}"] = ys[:, 2 * t], ys[:, 2 * t + 1]
        out.slot_rows = pd.DataFrame(data)
    if near:
        out.near_rows = pd.DataFrame(_near_values(
            *(np.concatenate(a) for a in zip(*near))))
    kinds = out.cell_rows["__kind"]
    out.counts = {"box": int((kinds == BOX).sum()),
                  "full": int((kinds == FULL).sum()),
                  "edge": int((kinds == EDGE).sum())}
    return out


def slot_test_sql(px: str, py: str, n_edges: int, n_toggles: int,
                  boundary: bool) -> str:
    """The EDGE slot test over the slot columns, lambda-free:
    ``on OR T[v]`` for boundary-inclusive predicates, ``NOT on AND T[v]``
    for ``within``; ``v`` is the constant bit XOR each local edge's
    crossing toggle (the kernel's arithmetic) XOR each right-side
    toggle."""
    flips = ["__lp"]
    on = []
    for k in range(n_edges):
        ax, ay, by, dx, dy, mnx, mxx, mny, mxy, tol = (
            f"__{c}{k}" for c in _EDGE_COLS)
        flips.append(f"(({ay} > {py}) != ({by} > {py}) AND "
                     f"{px} < {dx} * ({py} - {ay}) / {dy} + {ax})")
        on.append(f"({px} >= {mnx} AND {px} <= {mxx} AND {py} >= {mny} AND "
                  f"{py} <= {mxy} AND abs({dx} * ({py} - {ay}) - "
                  f"{dy} * ({px} - {ax})) < {tol})")
    for t in range(n_toggles):
        flips.append(f"((__ta{t} > {py}) != (__tb{t} > {py}))")
    v = flips[0]
    for f in flips[1:]:
        v = f"(({v}) != ({f}))"
    t = f"IF({v}, __t1, __t0)"
    on_sql = " OR ".join(on) if on else "false"
    if boundary:
        return f"(({on_sql}) OR {t})"
    return f"(NOT ({on_sql}) AND {t})"


def near_test_sql(px: str, py: str, d: str) -> str:
    """Whether a near row's edge lies within ``d`` (SQL) of the probe:
    clamp then ``hypot``, as ``kernels.points_seg_dist``."""
    t = (f"least(greatest((({px} - __nax) * __ndx + ({py} - __nay) * __ndy)"
         f" / __nll, 0.0D), 1.0D)")
    return (f"hypot({px} - (__nax + {t} * __ndx), "
            f"{py} - (__nay + {t} * __ndy)) <= {d}")
