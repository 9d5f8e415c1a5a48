"""Exact, lambda-free point-in-polygon for the all-JVM broadcast tier.

The all-JVM tier (``spatial_join._jvm_join``) joins a lon/lat probe's
grid cell to a broadcast table of build rows.  Refining a polygon row
with ``exists``/``aggregate`` lambdas over its edge arrays keeps the
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
  test), FULL (every probe that lands in the leaf matches), EDGE (a slot
  test over at most ``LEAF_EDGES`` local edges and ``LEAF_TOGGLES``
  toggles) or dropped (no probe that lands in the leaf matches).

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

A side keeps the lambda refine when it cannot be decomposed: a non-box
row in a coarse cell on the grid border (probes outside the world clamp
there), two rings with edges in one finest leaf (touching rings), or a
leaf that still needs more than ``LEAF_EDGES`` local edges or
``LEAF_TOGGLES`` toggles at the finest level ``res + MAX_LEAF_SPLIT``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from sedona_db_spark import grid

# The slot test's size is fixed: its generated code stays small enough
# for the JIT (eight edges and five toggles at res 5 measured 20x slower).
LEAF_EDGES = 2          # local edges per EDGE leaf
LEAF_TOGGLES = 4        # right-side toggles per EDGE leaf
MAX_LEAF_SPLIT = 4      # the finest leaf level is res + MAX_LEAF_SPLIT
_MAX_FINE_CELLS = 1 << 19  # refined coarse cells x 4^split
# relative to a row's largest coordinate (at least 360): millions of
# times the rounding error of the cell assignment and of the kernel's
# x intercept, and far below any leaf's size
_MARGIN = 1e-9

BOX, FULL, EDGE = 0, 1, 2
# the leaf table's columns the cell join reads
CELL_COLS = ("__cell", "__ridx", "__kind", "__x0", "__y0", "__x1", "__y1",
             "__slot")
_EDGE_COLS = ("ax", "ay", "by", "dx", "dy", "mnx", "mxx", "mny", "mxy", "tol")
# an unused edge slot never toggles (ay = by) and holds no probe
_NO_EDGE = (0.0, 0.0, 0.0, 0.0, 0.0, np.inf, -np.inf, np.inf, -np.inf, 0.0)


def ring_edges(ring) -> list:
    """[(ax, ay, bx, by), ...] — consecutive edges plus the closing edge
    when the ring isn't explicitly closed (the numpy kernel's edge set:
    points_in_ring / _points_on_ring_edge)."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 2:
        return []
    out = path_edges(r)
    if not (r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1]):
        out.append((float(r[-1, 0]), float(r[-1, 1]),
                    float(r[0, 0]), float(r[0, 1])))
    return out


def path_edges(line) -> list:
    """Consecutive edges only — NO implicit closing edge (a point on the
    first-to-last chord of an open linestring must not test on-edge; the
    kernel's _points_on_path_edge)."""
    r = np.asarray(line, dtype=np.float64)
    return [(float(r[i, 0]), float(r[i, 1]),
             float(r[i + 1, 0]), float(r[i + 1, 1]))
            for i in range(len(r) - 1)]


def _edges(es) -> np.ndarray:
    """Edges as an (E, 4) array, without the zero-length ones unless all
    are: such an edge never toggles, and a probe on it is on the next or
    previous edge too (that edge's cross product there is exactly 0)."""
    e = np.asarray(es, dtype=np.float64).reshape(-1, 4)
    moving = (e[:, 0] != e[:, 2]) | (e[:, 1] != e[:, 3])
    return e[moving] if moving.any() else e


class _Shape:
    """A build geometry as rings (edge arrays in ring order, each ring
    closed as a cycle), its parts as (shell ring, hole rings), and paths
    (lines, and points as zero-length edges) that only hold probes."""

    def __init__(self, g):
        name = g[0]
        self.rings, self.parts, self.paths = [], [], []
        if name in ("Polygon", "MultiPolygon"):
            for rs in ([g[1]] if name == "Polygon" else g[1]):
                ids = []
                for r in rs:
                    ids.append(len(self.rings))
                    self.rings.append(_edges(ring_edges(r)))
                if ids:
                    self.parts.append((ids[0], ids[1:]))
        elif name == "LineString":
            self.paths = [_edges(path_edges(g[1]))]
        elif name == "MultiLineString":
            self.paths = [_edges(path_edges(line)) for line in g[1]]
        elif name == "MultiPoint":
            self.paths = [_edges([(float(r[0]), float(r[1]), float(r[0]),
                                   float(r[1])) for r in g[1]])]
        else:
            raise ValueError(name)
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

    def classify(self, X0, Y0, X1, Y1) -> dict:
        """Sort the leaves [X0, X1] x [Y0, Y1] (arrays) for this shape."""
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
            toggles[has] = (nv[has] + 1) // 2
            local_of.append(loc)
            var_of.append(var)
        path_local = []
        for e in self.paths:
            loc, _ = local(e)
            nloc += loc.sum(axis=1)
            path_local.append(loc)
        ok = (~bad & (nvar_rings <= 1) & (nloc <= LEAF_EDGES)
              & (toggles <= LEAF_TOGGLES))
        truth = []
        for v in (False, True):
            p = parity.copy()
            rows = np.flatnonzero(var_ring >= 0)
            p[rows, var_ring[rows]] = v
            truth.append(self.truth(p))
        t0, t1 = truth
        kind = np.where(t0 & t1, FULL,
                        np.where(nloc > 0, EDGE, np.where(t0, FULL, -1)))
        const = np.zeros(n, dtype=bool)
        rows = np.flatnonzero(var_ring >= 0)
        const[rows] = parity[rows, var_ring[rows]]
        return {"ok": ok, "kind": kind, "t0": t0, "t1": t1, "p": const,
                "nloc": nloc, "toggles": toggles, "var_ring": var_ring,
                "local": local_of, "var": var_of, "path_local": path_local}

    def slot(self, c: dict, leaf: int) -> tuple:
        """An EDGE leaf's slot: its constant parity bit, truth table, local
        edges (ax, ay, bx, by) and the vertex ys of its varying toggles."""
        edges, ys = [], []
        r = c["var_ring"][leaf]
        if r >= 0:
            e = self.rings[r]
            edges.extend(e[c["local"][r][leaf]].tolist())
            ys = e[c["var"][r][leaf], 1].tolist()
        for e, loc in zip(self.paths, c["path_local"]):
            edges.extend(e[loc[leaf]].tolist())
        return (bool(c["p"][leaf]), bool(c["t0"][leaf]), bool(c["t1"][leaf]),
                edges, ys)


def _edge_slot(ax, ay, bx, by) -> tuple:
    """One local edge's slot values, in the kernel's arithmetic."""
    dx, dy = bx - ax, by - ay + 0.0
    return (ax, ay, by, dx, dy, min(ax, bx), max(ax, bx), min(ay, by),
            max(ay, by), 1e-12 * max(1.0, abs(dx) + abs(by - ay)))


class Leaves:
    """A build side's leaf tables at one coarse resolution, or the reason
    the side keeps the lambda refine (``reason`` not None).  ``cell_rows``
    holds one row per kept (leaf, build row); ``slot_rows`` one row per
    EDGE slot.  ``cells`` and ``slots`` are the Spark tables the caller
    makes from them."""

    def __init__(self, res: int, reason: str | None = None):
        self.res, self.reason = res, reason
        self.split = 0
        self.refined: list = []
        self.cell_rows = self.slot_rows = None
        self.cells = self.slots = None
        self.counts = {"box": 0, "full": 0, "edge": 0}
        self.max_edges = self.max_toggles = 0

    @property
    def fine_res(self) -> int:
        return self.res + self.split

    def nbytes(self) -> int:
        return sum(int(f.memory_usage(index=False).sum())
                   for f in (self.cell_rows, self.slot_rows) if f is not None)


def _border(cells: np.ndarray, res: int) -> bool:
    n = (1 << res) - 1
    ix = (cells >> grid._X_SHIFT) & ((1 << 29) - 1)
    iy = cells & ((1 << 29) - 1)
    return bool(((ix == 0) | (ix == n) | (iy == 0) | (iy == n)).any())


def _boxes(ix, iy, res):
    w, h = grid.cell_width(res), grid.cell_height(res)
    return (-180.0 + ix * w, -90.0 + iy * h,
            -180.0 + (ix + 1) * w, -90.0 + (iy + 1) * h)


def build(cells: pd.DataFrame, geoms: list, boxes: set, res: int) -> Leaves:
    """The leaf table of a build side from its coarse cell rows ``cells``
    (``__cell``, ``__ridx``, ``__pos`` and the bbox ``__x0..__y1``),
    its decoded geometries by position and the positions of its box rows
    (rects and points)."""
    rows = []
    for pos, grp in cells.groupby("__pos", sort=True):
        first = grp.iloc[0]
        rows.append((int(pos), int(first["__ridx"]),
                     tuple(float(first[c]) for c in
                           ("__x0", "__y0", "__x1", "__y1")),
                     grp["__cell"].to_numpy(dtype=np.int64)))
    shapes, coarse = {}, {}
    refined: set = set()
    for pos, _, _, cs in rows:
        if pos in boxes:
            continue
        shape = shapes[pos] = _Shape(geoms[pos])
        if not shape.finite:
            return Leaves(res, "a non-finite coordinate")
        if _border(cs, res):
            return Leaves(res, "a polygon in a grid-border cell")
        ix = (cs >> grid._X_SHIFT) & ((1 << 29) - 1)
        iy = cs & ((1 << 29) - 1)
        c = coarse[pos] = shape.classify(*_boxes(ix, iy, res))
        refined.update(cs[(c["nloc"] > 0) | ~c["ok"]].tolist())
    out = Leaves(res)
    out.refined = sorted(refined)
    if not refined:
        return _assemble(out, rows, shapes, coarse, {}, boxes)
    for split in range(1, MAX_LEAF_SPLIT + 1):
        if (res + split > grid.MAX_RES
                or len(refined) << (2 * split) > _MAX_FINE_CELLS):
            break
        fine = _split(rows, shapes, boxes, refined, res, split)
        if fine is not None:
            out.split = split
            return _assemble(out, rows, shapes, coarse, fine, boxes)
    return Leaves(res, f"a leaf needs more than {LEAF_EDGES} edges or "
                       f"{LEAF_TOGGLES} toggles, or holds two rings, at "
                       f"res {res + MAX_LEAF_SPLIT}")


def _split(rows, shapes, boxes, refined, res, split):
    """Each row's fine leaves inside the refined coarse cells, as
    {pos: (fine cell ids, classification or None for a box row)}, or
    None if some leaf cannot be decomposed at this level."""
    fine = res + split
    out = {}
    for pos, _, (x0, y0, x1, y1), cs in rows:
        mine = [c for c in cs.tolist() if c in refined]
        if not mine:
            continue
        fx0, fx1, fy0, fy1 = grid._covering_range(x0, y0, x1, y1, fine)
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
            c = shapes[pos].classify(*_boxes(ix, iy, fine))
            if not c["ok"].all():
                return None
        out[pos] = ((np.int64(fine) << grid._RES_SHIFT)
                    | (ix << grid._X_SHIFT) | iy, c)
    return out


def _assemble(out: Leaves, rows, shapes, coarse, fine, boxes) -> Leaves:
    """The leaf rows (each kept (leaf, build row) with its kind, bbox and,
    for an EDGE row, its slot id) and the slot rows."""
    refined = set(out.refined)
    recs, slots = [], []
    for pos, ridx, bbox, cs in rows:
        leaves = [(c, BOX if pos in boxes else coarse[pos]["kind"][j], j)
                  for j, c in enumerate(cs.tolist()) if c not in refined]
        if pos in fine:
            ids, c = fine[pos]
            leaves += [(f, BOX if c is None else c["kind"][j], j)
                       for j, f in enumerate(ids.tolist())]
        for cell, kind, j in leaves:
            slot = None
            if kind == EDGE:        # only fine leaves have edges
                slot = len(slots)
                slots.append(shapes[pos].slot(fine[pos][1], j))
            if kind >= 0:
                recs.append((cell, ridx, int(kind), *bbox, slot))
    cols = list(CELL_COLS)
    out.cell_rows = pd.DataFrame(recs, columns=cols).astype(
        {"__cell": "int64", "__ridx": "int64", "__kind": "int32",
         "__slot": "Int64", **{c: "float64" for c in cols[3:7]}})
    out.max_edges = max((len(s[3]) for s in slots), default=0)
    out.max_toggles = max(((len(s[4]) + 1) // 2 for s in slots), default=0)
    srows = []
    for i, (p, t0, t1, edges, ys) in enumerate(slots):
        vals = [i, p, t0, t1]
        for k in range(out.max_edges):
            vals += _edge_slot(*edges[k]) if k < len(edges) else _NO_EDGE
        # toggle ends in pairs: an odd count pairs its last end with -inf
        # (never above py), unused pairs are (0, 0)
        ys = ys + [-np.inf] * (len(ys) % 2)
        vals += ys + [0.0] * (2 * out.max_toggles - len(ys))
        srows.append(vals)
    if srows:
        out.slot_rows = pd.DataFrame(srows, columns=(
            ["__slot", "__lp", "__t0", "__t1"]
            + [f"__{c}{k}" for k in range(out.max_edges) for c in _EDGE_COLS]
            + [f"__{e}{t}" for t in range(out.max_toggles)
               for e in ("ta", "tb")]))
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
    crossing toggle (the kernel's arithmetic) XOR each right-side toggle."""
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
