"""Scale path for Barnes-Hut repulsion: depth-capped far-field summary +
local essential near field (BASELINE.md B11), for any embedding dimension d.

The driver-built full tree ("driver") broadcasts the ENTIRE tree
every iteration — O(N) bytes to every executor (213 MB pickled at N=1M,
d=2; ~20 GB at 10^8 points).  This module replaces that with:

- a broadcast **cell-aggregate pyramid**: per-cell (count, per-axis sums)
  at a capped depth D (<= 2^(d*D) <= 2^20 cells, CONSTANT in N) plus all
  coarser levels — the "depth-capped far-field summary";
- a **near-field shuffle**: each point's coordinates are shipped only to
  the spatial query blocks within a theta-derived chebyshev halo (the
  "local essential tree" set) — an O(N)-row shuffle with a small constant
  replication factor ((1 + 2*Rc/block)^d, typically 1.5-4x at d=2),
  instead of O(N)-bytes x n_executors broadcast traffic.

Per query block (~64 cells of the depth-D grid: 8x8 at d=2), evaluation
splits exactly at the cell boundary:

- **far field**: the pyramid is coarsened top-down into the LARGEST dyadic
  cells guaranteed to satisfy the Barnes-Hut opening criterion from
  anywhere in the block (min-distance between the block's true query bbox
  and the cell bbox bounds the per-query distance to the cell's
  center-of-mass from below).  Each emitted cell contributes as a point
  mass at its center of mass — a dense vectorized numpy kernel, no tree.
- **near field**: the real points of the halo cells (shipped via the
  shuffle) are assembled into a local tree (``ndtree.build_ndtree``) and
  evaluated with the standard traversal, so close-range interactions keep
  full leaf-level accuracy including the coincident-point and
  self-exclusion semantics (QuadTree.scala:123-152).

Accuracy class: identical to single-tree Barnes-Hut at the same theta — the
far field is summarized at the same-or-finer granularity than the full-tree
traversal would accept (a guaranteed-accepted cell is exactly a node the
full traversal would have accepted at that level or coarser), and the near
field is exact-leaf-level.  Results are not bit-identical to the full-tree
mode (different summarization grouping at block boundaries); the
reference-parity driver build remains available via --treeBuild.

Degenerate inputs fall back to the driver-built full tree, unchanged
(``plan_summary`` returns None): all-coincident points (zero extent),
theta so small the halo covers the grid (the reference's
non-scale-invariant condition does this on compressed early-iteration
embeddings — faithful to its exact-degeneration behavior), or N below
``MIN_SUMMARY_N``, where blocking does not pay.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

# Auto-depth plans decline below this N: blocking overhead is not worth it.
MIN_SUMMARY_N = 4096


def morton_encode(idx: np.ndarray, depth: int) -> np.ndarray:
    """Interleave ``idx`` (n, d) per-axis cell indices (each < 2^depth) into
    one morton code, axis 0 in the most significant interleave position.
    depth * d must fit in 63 bits (guaranteed by the plan's depth cap)."""
    n, d = idx.shape
    code = np.zeros(n, dtype=np.int64)
    for b in range(depth - 1, -1, -1):
        for k in range(d):
            code = (code << 1) | ((idx[:, k] >> b) & 1)
    return code


def morton_decode(code: np.ndarray, depth: int, d: int) -> np.ndarray:
    """Inverse of :func:`morton_encode`; returns (n, d) indices."""
    idx = np.zeros((len(code), d), dtype=np.int64)
    shift = 0
    for b in range(depth):
        for k in range(d - 1, -1, -1):
            idx[:, k] |= ((code >> shift) & 1) << b
            shift += 1
    return idx


@dataclass
class SummaryPlan:
    center: tuple          # root center, d floats (quirk Q1: origin default)
    half: float            # root half-extent (= max axis span)
    depth: int             # per-axis depth D; grid = 2^D cells per axis
    rc: int                # halo radius in depth-D cells (chebyshev)
    theta: float
    condition: str
    block_bits: int
    d: int

    @property
    def grid(self) -> int:
        return 1 << self.depth

    @property
    def cellw(self) -> float:
        return 2.0 * self.half / self.grid

    @property
    def blocks_per_axis(self) -> int:
        return max(1, self.grid >> self.block_bits)


def plan_summary(
    n: int,
    d: int,
    half: float,
    theta: float,
    condition: str,
    center: tuple | None = None,
    summary_depth: int | None = None,
    block_bits: int | None = None,
) -> SummaryPlan | None:
    """Size the summary grid, or return None when the driver-built full tree
    should be used instead (degenerate geometry, tiny N, or a halo radius so
    large that blocking would replicate more than it saves).

    Auto depth targets ~64 points per depth-D cell, capped at 2^(d*D) <=
    2^20 cells (4^10 at d=2) and floored at ``block_bits + 1`` so the grid
    spans at least two query blocks per axis.
    """
    if theta <= 0.0 or half <= 0.0 or d < 1:
        return None
    if block_bits is None:
        # ~64 cells per query block regardless of d (2^(d*bb) ~ 64)
        block_bits = max(1, int(round(6.0 / d)))
    if summary_depth is None:
        if n < MIN_SUMMARY_N:
            return None
        want = math.ceil(math.log2(max(n, 2) / 64.0) / d)
        summary_depth = min(20 // d, max(block_bits + 1, want))
    depth = summary_depth
    grid = 1 << depth
    extent_d = half * 2.0 ** -depth     # half-extent of a depth-D cell
    cellw = 2.0 * extent_d
    # A depth-D cell is guaranteed-accepted by every query at center-of-mass
    # distance >= thr; chebyshev cell distance > rc implies min distance
    # >= rc * cellw >= thr.
    if condition == "scaled":
        thr = extent_d / theta
    else:  # reference: accept iff extent / dist^2 < theta
        thr = math.sqrt(extent_d / theta)
    rc = max(1, math.ceil(thr / cellw))
    block = 1 << block_bits
    if block + 2 * rc >= grid:
        # halo covers (most of) the grid: near field degenerates toward
        # all-pairs — the full-tree path handles this regime
        return None
    c = tuple(center) if center is not None else tuple([0.0] * d)
    return SummaryPlan(c, half, depth, rc, theta, condition, block_bits, d)


def build_pyramid(
    cells: np.ndarray, cum: np.ndarray, s: np.ndarray, plan: SummaryPlan,
) -> list[dict]:
    """From depth-D cell aggregates build the per-level aggregate tables
    for levels 0..D.

    ``cells`` is the LINEAR index sum_k i_k * grid^k; ``s`` is (k, d) sums.
    Each level is sorted by Morton code so children of code m occupy the
    contiguous code range [m << d, (m << d) + 2^d).  Size: sum_l
    min(2^(d*l), occupied) — bounded by the depth-D cell cap regardless of
    N."""
    grid, d = plan.grid, plan.d
    k = len(cells)
    idx = np.zeros((k, d), dtype=np.int64)
    rem = cells.astype(np.int64)
    for a in range(d):
        idx[:, a] = rem % grid
        rem = rem // grid
    code = morton_encode(idx, plan.depth)
    order = np.argsort(code)
    levels = [None] * (plan.depth + 1)
    c = code[order]
    w = cum[order].astype(np.int64)
    sv = s[order].astype(np.float64).reshape(k, d)
    levels[plan.depth] = {"code": c, "cum": w, "s": sv}
    for lvl in range(plan.depth - 1, -1, -1):
        parent = c >> d
        uniq, start = np.unique(parent, return_index=True)
        w = np.add.reduceat(w, start)
        sv = np.add.reduceat(sv, start, axis=0)
        c = uniq
        levels[lvl] = {"code": c, "cum": w, "s": sv}
    return levels


def merge_pyramids(a: list[dict], b: list[dict]) -> list[dict]:
    """Merge two per-level pyramids (same plan) by summing coincident codes.

    Per-partition pyramids are built over DISJOINT depth-D cells (the cell
    aggregation shuffles each cell to exactly one partition), but their
    coarser levels overlap; the merge is a sorted-code groupby-sum per level.
    Executor-side associative op for ``treeReduce`` — the driver never sees
    row-level data, only the finished pyramid it must hold to broadcast.
    """
    out: list[dict] = []
    for la, lb in zip(a, b):
        if not len(lb["code"]):
            out.append(la)
            continue
        if not len(la["code"]):
            out.append(lb)
            continue
        code = np.concatenate([la["code"], lb["code"]])
        cum = np.concatenate([la["cum"], lb["cum"]])
        s = np.concatenate([la["s"], lb["s"]], axis=0)
        order = np.argsort(code, kind="stable")
        code, cum, s = code[order], cum[order], s[order]
        uniq, start = np.unique(code, return_index=True)
        out.append(
            {
                "code": uniq,
                "cum": np.add.reduceat(cum, start),
                "s": np.add.reduceat(s, start, axis=0),
            }
        )
    return out


def far_masses(
    levels: list[dict],
    plan: SummaryPlan,
    halo_lo: np.ndarray,
    halo_hi: np.ndarray,
    q_lo: np.ndarray,
    q_hi: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Coarsen the pyramid into the largest cells guaranteed-accepted from
    everywhere in the query bbox [q_lo, q_hi], excluding the halo box
    [halo_lo, halo_hi] (depth-D index space, inclusive, per-axis arrays)
    whose real points are evaluated locally.

    Returns (cum, com) of the emitted point masses, com of shape (C, d)."""
    d = plan.d
    if not len(levels[0]["code"]):
        return np.zeros(0), np.zeros((0, d))
    D = plan.depth
    origin = np.asarray(plan.center, dtype=np.float64) - plan.half
    out_w: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    cand = np.zeros(1, dtype=np.int64)
    for lvl in range(0, D + 1):
        tab = levels[lvl]
        if not len(cand):
            break
        code = tab["code"][cand]
        cum = tab["cum"][cand]
        idx = morton_decode(code, lvl, d)  # (k, d)
        w_l = 2.0 * plan.half / (1 << lvl)
        extent = plan.half * 2.0 ** -lvl
        c0 = origin[None, :] + idx * w_l      # cell lower corner (k, d)
        # per-axis min distance between query bbox and cell bbox
        gap = np.maximum(
            0.0, np.maximum(c0 - q_hi[None, :], q_lo[None, :] - (c0 + w_l))
        )
        d2 = (gap * gap).sum(axis=1)
        denom = np.sqrt(d2) if plan.condition == "scaled" else d2
        with np.errstate(divide="ignore"):
            guaranteed = (denom > 0.0) & (extent / denom < plan.theta)
        shift = D - lvl
        g0 = idx << shift
        g1 = ((idx + 1) << shift) - 1
        overlaps = np.all(
            (g0 <= halo_hi[None, :]) & (g1 >= halo_lo[None, :]), axis=1
        )
        if lvl == D:
            # halo cells: covered by shipped real points.  Non-halo cells
            # are guaranteed-accepted by construction (chebyshev > rc =>
            # min distance >= rc*cellw >= thr); emit them all.
            emit = ~overlaps
        else:
            emit = guaranteed & ~overlaps
        if emit.any():
            e = np.flatnonzero(emit)
            out_w.append(cum[e].astype(np.float64))
            out_c.append(tab["s"][cand[e]] / cum[e][:, None])
        if lvl == D:
            break
        expand = np.flatnonzero(~emit & (cum > 0))
        if not len(expand):
            break
        nc = 1 << d
        pcodes = code[expand] << d
        child = levels[lvl + 1]["code"]
        lo = np.searchsorted(child, pcodes, side="left")
        hi = np.searchsorted(child, pcodes + nc, side="left")
        counts = hi - lo
        # flatten the [lo, hi) ranges into one index array
        cand = np.repeat(lo, counts) + (
            np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)
        )
    if not out_w:
        return np.zeros(0), np.zeros((0, d))
    return np.concatenate(out_w), np.concatenate(out_c, axis=0)


def eval_far(
    Qp: np.ndarray, w: np.ndarray, com: np.ndarray, chunk: int = 2048,
) -> tuple[np.ndarray, np.ndarray]:
    """Dense point-mass kernel: forces_i = sum_c w_c * q^2 * (y_i - com_c),
    sumq_i = sum_c w_c * q with q = 1/(1 + ||y_i - com_c||^2).  Chunked over
    queries with per-axis temporaries, so peak memory is a few chunk x C
    arrays regardless of d."""
    m, d = Qp.shape
    forces = np.zeros((m, d))
    sumq = np.zeros(m)
    if m == 0 or len(w) == 0:
        return forces, sumq
    for st in range(0, m, chunk):
        e = min(st + chunk, m)
        deltas = [Qp[st:e, k, None] - com[None, :, k] for k in range(d)]
        d2 = deltas[0] * deltas[0]
        for k in range(1, d):
            d2 += deltas[k] * deltas[k]
        q = 1.0 / (1.0 + d2)
        wq = w[None, :] * q
        sumq[st:e] = wq.sum(axis=1)
        wq2 = wq * q
        for k in range(d):
            forces[st:e, k] = (wq2 * deltas[k]).sum(axis=1)
    return forces, sumq
