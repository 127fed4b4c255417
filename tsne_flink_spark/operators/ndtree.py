"""Barnes-Hut tree for any dimensionality: the quadtree at d=2 (the
reference's only structure, QuadTree.scala / Cell.scala), an octree at d=3,
2^d children per node in general.  Array-backed numpy implementation.

Semantics replicate the reference, including its quirks, so that theta=0
degenerates to the exact gradient and golden tests match:

- node capacity 1; coincident (bit-equal) points accumulate in one leaf
  (QuadTree.scala:50-63).  DOCUMENTED DIVERGENCE: when such a leaf later
  splits, the reference re-seats its point once (QuadTree.scala:59),
  dropping the duplicates' mass insertion-ORDER-dependently — behaviour the
  order-free bulk build cannot reproduce.  This engine re-seats the full
  accumulated weight, so sequential insert and the bulk build agree
  exactly and no mass is lost
  (tests/test_properties.py::test_quadtree_coincident_points).
- ``subDivide`` sizes every child by the parent's half-WIDTH on all axes
  (QuadTree.scala:80-81) — safe because the root is square (cubic), so
  per-node extents are (root half) * 2^-depth exactly and a uint8 depth
  replaces per-node extent arrays (~35% smaller pickled tree, BASELINE.md
  B11; half * 2^-depth is exact in IEEE-754).
- summary condition ``extent / D < theta`` with D the SQUARED distance
  ("reference", QuadTree.scala:133-134, quirk Q2 — not scale-invariant: on
  a compressed early-iteration embedding 1/D dwarfs theta and the
  evaluation degenerates to exact, as the reference does), or
  ``extent / sqrt(D) < theta`` ("scaled", canonical van der Maaten 2014
  Barnes-Hut).  theta=0 means exact under both.
- a leaf whose point bit-equals the query contributes nothing
  (QuadTree.scala:128).
- root cell: centred at the embedding mean — which the reference computes
  as the zero vector by construction (quirk Q1, TsneHelpers.scala:228-229) —
  with half-extent the largest per-axis span (TsneHelpers.scala:246-248).
- children are scanned in the reference's NW, NE, SW, SE order at d=2
  (axis 0 ascending, the other axes descending; child ``c`` lies on the
  positive side of axis 0 iff bit 0 of ``c`` is set and on the positive side
  of axis k >= 1 iff bit k is clear); a point on a split plane goes to the
  first child whose closed cell contains it (Cell.scala's inclusive
  ``contains``).

Layout: per-node coordinates are stored axis-major — ``c``, ``s`` and ``p``
are (d, n) arrays — so every vectorized step works on contiguous 1-D axis
rows, and node topology is an int32 (n, 2^d) child table.  Construction is
level-synchronous and force evaluation expands a frontier of (node, query)
pairs level by level, both entirely in numpy with no per-point Python
recursion.
"""

from __future__ import annotations

import numpy as np

_MAX_DEPTH = 64  # guard against pathological near-coincident points


def _child_signs(d: int) -> np.ndarray:
    """(d, 2^d) offset sign of child c on axis k (see the module docstring
    for the order)."""
    c = np.arange(1 << d)
    bits = np.array([(c >> k) & 1 for k in range(d)], dtype=bool)
    bits[1:] = ~bits[1:]
    return np.where(bits, 1.0, -1.0)


class NDTree:
    """Flat-array 2^d-ary Barnes-Hut tree over d-dimensional points."""

    def __init__(self, center, half_extent: float, capacity_hint: int = 64):
        center = np.asarray(center, dtype=np.float64)
        d = len(center)
        self.d = d
        self.nc = 1 << d  # children per node
        self._offs = _child_signs(d)
        n = max(capacity_hint, 16)
        self.c = np.zeros((d, n))
        self.c[:, 0] = center
        self.half = float(half_extent)  # root half-extent
        self.depth = np.zeros(n, dtype=np.uint8)
        self.cum = np.zeros(n, dtype=np.int64)
        self.s = np.zeros((d, n))  # running sum of inserted points
        self.children = np.full((n, self.nc), -1, dtype=np.int32)
        self.has_point = np.zeros(n, dtype=bool)
        self.p = np.zeros((d, n))
        self.n_nodes = 1

    def _half_of(self, node: int) -> float:
        return self.half / (1 << int(self.depth[node]))

    # -- construction -------------------------------------------------------

    def _grow(self, need: int) -> None:
        cap = len(self.cum)
        if self.n_nodes + need <= cap:
            return
        new = max(cap * 2, self.n_nodes + need)
        for name in ("c", "s", "p"):
            arr = np.zeros((self.d, new))
            arr[:, :cap] = getattr(self, name)
            setattr(self, name, arr)
        self.depth = np.resize(self.depth, new)
        self.cum = np.resize(self.cum, new)
        self.has_point = np.resize(self.has_point, new)
        ch = np.full((new, self.nc), -1, dtype=np.int32)
        ch[:cap] = self.children
        self.children = ch

    def _contains(self, node: int, x: np.ndarray) -> bool:
        h = self._half_of(node)
        c = self.c[:, node]
        return bool(np.all((c - h <= x) & (x <= c + h)))

    def _child_for(self, node: int, x: np.ndarray) -> int:
        for ch in self.children[node]:
            if ch >= 0 and self._contains(int(ch), x):
                return int(ch)
        return -1

    def insert(self, x) -> bool:
        """Insert one point; False if it lies outside the root cell (the
        reference drops it)."""
        x = np.asarray(x, dtype=np.float64)
        if not self._contains(0, x):
            return False
        node = 0
        for _ in range(_MAX_DEPTH):
            self.s[:, node] += x
            self.cum[node] += 1
            if self.children[node, 0] == -1:  # leaf
                if not self.has_point[node]:
                    self.has_point[node] = True
                    self.p[:, node] = x
                    return True
                if np.array_equal(self.p[:, node], x):
                    return True  # coincident: accumulate in this leaf
                if self.depth[node] >= _MAX_DEPTH - 1:
                    # terminal depth: treat the distinct point as coincident
                    # (accumulate only, keep the seated point, NO subdivide —
                    # a last-level split would strand mass in children that
                    # repulsive_forces expands into and drops as empty)
                    return True
                # re-seat the old point one level down with its FULL
                # accumulated weight: the leaf may hold w >= 2 bit-equal
                # copies (cum/s exclude the new point added above)
                ox = self.p[:, node].copy()
                ow = int(self.cum[node]) - 1
                osum = self.s[:, node] - x
                _bulk_subdivide(self, np.array([node]))
                self.has_point[node] = False
                oc = self._child_for(node, ox)
                if oc >= 0:  # 1-ulp FP edge: skip re-seat, keep aggregates
                    self.s[:, oc] += osum
                    self.cum[oc] += ow
                    self.has_point[oc] = True
                    self.p[:, oc] = ox
            nxt = self._child_for(node, x)
            if nxt == -1:
                return False
            node = nxt
        return True  # depth guard: treat as coincident with leaf reached

    def __getstate__(self):
        # serialize compact: _grow leaves up to 2x slack capacity, which
        # would otherwise ship in every tree broadcast
        self.trim()
        return self.__dict__

    def trim(self) -> "NDTree":
        """Shrink backing arrays to ``n_nodes`` (before serialization)."""
        n = self.n_nodes
        for name in ("c", "s", "p"):
            setattr(self, name, getattr(self, name)[:, :n].copy())
        for name in ("depth", "cum", "has_point", "children"):
            setattr(self, name, getattr(self, name)[:n].copy())
        return self

    # -- query --------------------------------------------------------------

    def repulsive_forces(
        self, Q: np.ndarray, theta: float, condition: str = "reference"
    ) -> tuple[np.ndarray, np.ndarray]:
        """Batched Barnes-Hut evaluation for query points Q (m, d).

        Returns (forces (m, d), sum_q (m,)).  A frontier of (node, query)
        pairs is expanded breadth-first; at each step every pair is either
        accumulated (leaf, or the summary ``condition`` holds — see the
        module docstring) or expanded to its 2^d children.
        """
        m = len(Q)
        forces = np.zeros((m, self.d))
        sumq = np.zeros(m)
        if m == 0 or self.cum[0] == 0:
            return forces, sumq
        axes = range(self.d)
        Qa = [np.ascontiguousarray(Q[:, k], dtype=np.float64) for k in axes]

        nodes = np.zeros(m, dtype=np.int64)
        queries = np.arange(m, dtype=np.int64)

        while len(nodes):
            leaf = self.children[nodes, 0] == -1
            cum = self.cum[nodes]
            empty = leaf & (cum == 0)
            qs = [Qa[k][queries] for k in axes]
            self_leaf = leaf & self.has_point[nodes]
            for k in axes:
                self_leaf &= self.p[k][nodes] == qs[k]
            drop = empty | self_leaf

            w = np.maximum(cum, 1)
            delta = [qs[k] - self.s[k][nodes] / w for k in axes]
            D = delta[0] * delta[0]
            for k in axes[1:]:
                D += delta[k] * delta[k]
            denom = np.sqrt(D) if condition == "scaled" else D
            extent = self.half * np.exp2(-self.depth[nodes].astype(np.float64))
            with np.errstate(divide="ignore", invalid="ignore"):
                summary = extent / denom < theta
            accept = ~drop & (leaf | summary)

            if accept.any():
                a = np.flatnonzero(accept)
                q = 1.0 / (1.0 + D[a])
                mult = cum[a] * q
                qa = queries[a]
                sumq += np.bincount(qa, weights=mult, minlength=m)
                mq = mult * q
                for k in axes:
                    forces[:, k] += np.bincount(
                        qa, weights=mq * delta[k][a], minlength=m
                    )

            expand = ~drop & ~accept
            if expand.any():
                e = np.flatnonzero(expand)
                nodes = self.children[nodes[e]].ravel()
                queries = np.repeat(queries[e], self.nc)
            else:
                break
        return forces, sumq


def _bulk_build(tree: NDTree, Y: np.ndarray) -> NDTree:
    """Vectorized level-synchronous construction into a FRESH (root-only)
    tree — equivalent to inserting every row of ``Y`` sequentially (same
    structure: a node subdivides iff >= 2 distinct points fall in it; same
    cum/s totals up to float-sum reassociation; coincident rows accumulate
    in one leaf), but each descent level is one batch of numpy ops instead
    of a per-point Python loop.

    Equivalence argument: insertion order only ever mattered through the
    re-seat-with-full-weight rule, which this module makes order-independent
    (see the module docstring); the per-node mass totals are order-free
    sums, and the child of a point is a pure function of the point and the
    cell (``_children_for`` replicates ``_child_for``'s first-containing-
    child scan, including the 1-ulp no-containing-child drop edge, where the
    mass stays in the ancestors exactly like insert returning False
    mid-descent).  Gated by
    tests/test_ndtree.py::test_bulk_build_equals_sequential_insert.

    Depth guard (shared with insert): a leaf at depth
    _MAX_DEPTH-1 never subdivides; still-distinct survivors accumulate there
    as a terminal leaf seated with the lexicographically first point (insert
    seats whichever arrived first, so the two agree under lex-ordered
    insertion; see test_depth_exhaustion_terminal_leaf).
    """
    d = tree.d
    if not len(Y):
        return tree
    inside = np.ones(len(Y), dtype=bool)
    for k in range(d):
        inside &= np.abs(Y[:, k] - tree.c[k, 0]) <= tree.half
    X = Y[inside]
    if not len(X):
        return tree
    # coincident rows collapse to one weighted point (insert's accumulate
    # rule); they would never separate however deep the descent goes
    pts, counts = np.unique(X, axis=0, return_counts=True)
    w = counts.astype(np.int64)
    ws = pts.T * counts  # (d, m) weighted sums
    cur = np.zeros(len(pts), dtype=np.int64)
    lo = 0  # the current level's nodes are the contiguous range [lo, ...)
    for lvl in range(_MAX_DEPTH):
        np.add.at(tree.cum, cur, w)
        for k in range(d):
            np.add.at(tree.s[k], cur, ws[k])
        cnt = np.bincount(cur - lo)
        alone = cnt[cur - lo] == 1
        if alone.any():
            sn = cur[alone]
            tree.has_point[sn] = True
            tree.p[:, sn] = pts[alone].T
        keep = ~alone
        cur, pts, w, ws = cur[keep], pts[keep], w[keep], ws[:, keep]
        if not len(cur):
            break
        if lvl == _MAX_DEPTH - 1:
            # terminal depth: accumulate-only leaves (matching insert's
            # terminal rule — no massless last-level subdivide).  Seat the
            # lexicographically-first point of each survivor group, the
            # order-independent counterpart of insert seating whichever
            # point arrived first.
            order = np.lexsort(tuple(pts.T[::-1]) + (cur,))
            sc, sp = cur[order], pts[order]
            first = np.r_[True, sc[1:] != sc[:-1]]
            tree.has_point[sc[first]] = True
            tree.p[:, sc[first]] = sp[first].T
            break
        # all remaining nodes hold >= 2 distinct points: split and descend.
        # They are fresh same-depth leaves (level-synchronous invariant).
        lo_next = tree.n_nodes
        _bulk_subdivide(tree, np.flatnonzero(cnt > 1) + lo)
        lo = lo_next
        nxt = _children_for(tree, cur, pts.T)
        v = nxt >= 0
        cur, pts, w, ws = nxt[v], pts[v], w[v], ws[:, v]
    return tree


def build_ndtree(Y: np.ndarray, fix_bounds_mean: bool = False) -> NDTree:
    """Build the tree for an N x d embedding, replicating the reference's
    root-cell construction (TsneHelpers.scala:228-248, every axis).

    With ``fix_bounds_mean=False`` (reference parity) the root is centred at
    the origin — the reference's "mean" is a zero vector by construction
    (Q1).  With True, the actual mean is used.
    """
    Y = np.asarray(Y, dtype=np.float64)
    if Y.ndim != 2:
        raise ValueError(f"expected (n, d) array, got shape {Y.shape}")
    d = Y.shape[1]
    if d < 1:
        raise ValueError("expected at least one embedding dimension")
    if fix_bounds_mean and len(Y):
        center = np.array([Y[:, k].mean() for k in range(d)])
    else:
        center = np.zeros(d)
    half = float((Y.max(axis=0) - Y.min(axis=0)).max()) if len(Y) else 1.0
    tree = NDTree(center, half, capacity_hint=(1 << d) * max(len(Y), 16))
    return _bulk_build(tree, Y)


# -- vectorized subdivide / descent -----------------------------------------

def _bulk_subdivide(tree: NDTree, nodes: np.ndarray) -> None:
    """Subdivide many (unique) leaf nodes at once; cell geometry is exact
    (half * 2^-(depth+1) equals repeated halving in IEEE-754)."""
    k = len(nodes)
    if k == 0:
        return
    nc = tree.nc
    base = tree.n_nodes
    tree._grow(nc * k)
    nw = tree.half * np.exp2(-(tree.depth[nodes].astype(np.float64) + 1.0))
    child_idx = base + nc * np.arange(k, dtype=np.int64)[:, None] + np.arange(nc)
    flat = child_idx.ravel()
    for a in range(tree.d):
        tree.c[a][flat] = (
            tree.c[a][nodes][:, None] + nw[:, None] * tree._offs[a]
        ).ravel()
    tree.depth[flat] = np.repeat(tree.depth[nodes] + 1, nc)
    tree.cum[flat] = 0
    tree.s[:, flat] = 0.0
    tree.has_point[flat] = False
    tree.children[flat] = -1
    tree.children[nodes] = child_idx.astype(np.int32)
    tree.n_nodes += nc * k


def _children_for(tree: NDTree, nodes: np.ndarray, X) -> np.ndarray:
    """Vectorized ``_child_for``: the first child (in child order) whose
    closed cell contains the point, -1 if none.  ``nodes`` must all be
    internal; ``X[a]`` holds axis a of the points, one per node.

    Containment factorizes per axis and the child order is lexicographic
    in the per-axis bits, so the first containing child takes, on every
    axis, the bit-0 side if that side's closed interval holds the point and
    the bit-1 side otherwise.  Each side's centre is recomputed as parent
    centre -/+ child half-extent, the exact value ``_bulk_subdivide``
    stored, so the comparisons (ties on shared boundaries, the 1-ulp
    no-containing-child edge) match the scan bit for bit."""
    h = tree.half * np.exp2(-(tree.depth[nodes].astype(np.float64) + 1.0))
    slot = np.zeros(len(nodes), dtype=np.int64)
    found = np.ones(len(nodes), dtype=bool)
    for a in range(tree.d):
        ca, xa = tree.c[a][nodes], X[a]
        lo, hi = ca - h, ca + h  # centres of the negative / positive child
        neg = (lo - h <= xa) & (xa <= lo + h)
        pos = (hi - h <= xa) & (xa <= hi + h)
        first, second = (neg, pos) if a == 0 else (pos, neg)
        slot |= (~first).astype(np.int64) << a
        found &= first | second
    out = tree.children[nodes, slot].astype(np.int64)
    out[~found] = -1
    return out
