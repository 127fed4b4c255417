"""The d-generic Barnes-Hut tree (operators/ndtree.py): the reference's
quadtree at d=2 (QuadTree.scala:50-63 insert/subdivide, 123-152 force
evaluation), an octree at d=3.

Each behaviour is one ``check_*`` body taking the dimension.  This module
runs the d != 2 cases; the d=2 cases run under their original names in
tests/test_quadtree_distributed.py and tests/test_properties.py.

Oracles: exact brute-force repulsion in numpy (theta -> 0 must match to
float precision; theta = 0.5 must sit in the same accuracy band as the 2-D
tree), sequential-insert vs bulk build equivalence (the capacity-1 tree's
structure depends only on the point SET, so the builds must agree
node-for-node, with sums equal up to FP summation order)."""

import numpy as np
import pytest

from tsne_flink_spark.operators.ndtree import (
    _MAX_DEPTH,
    NDTree,
    _bulk_build,
    build_ndtree,
)


def _exact_rep(Y: np.ndarray, q: np.ndarray) -> tuple[np.ndarray, float]:
    d = q - Y
    D2 = (d * d).sum(axis=1)
    w = 1.0 / (1.0 + D2)
    # a bit-equal point contributes nothing (QuadTree.scala:128 semantics)
    mask = D2 > 0.0
    return (w[mask, None] ** 2 * d[mask]).sum(axis=0), float(w[mask].sum())


def _tree_of(points, half: float) -> NDTree:
    """Sequential insert of ``points`` under a root at the origin."""
    points = np.asarray(points, dtype=np.float64)
    t = NDTree(np.zeros(points.shape[1]), half)
    for row in points:
        t.insert(row)
    return t


def _canonical(tree: NDTree) -> dict:
    """(cell centre, depth) -> (cum, sums, point): order-independent."""
    out = {}
    for n in range(tree.n_nodes):
        if tree.cum[n] == 0 and not tree.has_point[n]:
            continue
        key = (tuple(tree.c[:, n]), int(tree.depth[n]))
        pt = tuple(tree.p[:, n]) if tree.has_point[n] else None
        out[key] = (int(tree.cum[n]), tree.s[:, n].copy(), pt)
    return out


def _assert_equivalent(a: NDTree, b: NDTree, tol: float = 1e-9) -> None:
    ca, cb = _canonical(a), _canonical(b)
    assert set(ca) == set(cb)
    for key in ca:
        cum_a, s_a, pt_a = ca[key]
        cum_b, s_b, pt_b = cb[key]
        assert cum_a == cum_b
        np.testing.assert_allclose(s_a, s_b, rtol=0, atol=tol)
        assert pt_a == pt_b


def _leaf_cums(tree: NDTree) -> list[int]:
    return sorted(
        int(tree.cum[n])
        for n in range(tree.n_nodes)
        if tree.children[n, 0] == -1 and tree.has_point[n]
    )


def _emb(spark, Y):
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(Y)],
        "id int, y array<double>",
    )


# -- check bodies (one per behaviour, d-generic) ------------------------------

def check_theta0_matches_bruteforce(
    d: int, n: int = 60, scale: float = 1.0, seed: int = 4
) -> None:
    """Near-zero theta makes the tree's forces equal the O(N^2) pairwise
    formula for every query, under both summary conditions."""
    rng = np.random.default_rng(seed)
    Y = rng.normal(0, scale, (n, d))
    Y -= Y.mean(axis=0)
    tree = build_ndtree(Y)
    assert tree.cum[0] == n
    diff = Y[:, None, :] - Y[None, :, :]
    Q = 1.0 / (1.0 + (diff * diff).sum(-1))
    np.fill_diagonal(Q, 0.0)
    exp_forces = np.einsum("ij,ijk->ik", Q * Q, diff)
    for theta, condition in [(1e-300, "reference"), (1e-12, "scaled")]:
        forces, sumq = tree.repulsive_forces(Y, theta, condition=condition)
        np.testing.assert_allclose(sumq, Q.sum(axis=1), atol=1e-9)
        np.testing.assert_allclose(forces, exp_forces, atol=1e-9)


def check_coincident_points(d: int) -> None:
    """Coincident points accumulate in one leaf (QuadTree.scala:50-52); a
    bit-equal query point gets nothing from its own leaf
    (QuadTree.scala:128); a later split re-seats the FULL leaf weight (the
    documented divergence from QuadTree.scala:59); a point outside the root
    cell is dropped."""
    Y = np.array([np.zeros(d), np.zeros(d), np.ones(d)])
    tree = build_ndtree(Y)
    forces, sumq = tree.repulsive_forces(Y, theta=1e-300)
    q = 1.0 / (1.0 + d)
    # query 0: its own leaf is skipped — only the far point contributes
    assert sumq[0] == pytest.approx(q)
    # query 2: the origin leaf contributes BOTH coincident copies (cum 2 —
    # the reference would have dropped one at subdivision)
    assert sumq[2] == pytest.approx(2 * q)

    p, other = np.full(d, 0.1), np.r_[-0.5, np.full(d - 1, 0.2)]
    t = NDTree(np.zeros(d), 1.0)
    assert t.insert(p)
    assert t.insert(p)  # coincident accumulates
    assert t.insert(other)
    assert not t.insert(np.r_[5.0, np.zeros(d - 1)])  # outside root: dropped
    assert t.cum[0] == 3
    f, s = t.repulsive_forces(p[None, :], 1e-12, "scaled")
    # only the one distinct other point repels; the 2 coincident copies don't
    want_f, want_s = _exact_rep(np.array([p, p, other]), p)
    assert np.allclose(f[0], want_f, atol=1e-12)
    assert abs(s[0] - want_s) < 1e-12


def check_split_reseats_full_coincident_weight(d: int) -> None:
    """Insert p, a bit-equal copy of p, THEN a near point r: the split below
    must carry BOTH copies of p (cum 2), matching the bulk build, which
    collapses coincident rows into one weighted point."""
    p = np.full(d, 0.25)
    r = p.copy()
    r[0] += 1e-9
    Y = np.array([p, p, r])
    seq = _tree_of(Y, 1.0)
    bulk = _bulk_build(NDTree(np.zeros(d), 1.0), Y)
    _assert_equivalent(seq, bulk, tol=1e-12)
    for tree in (seq, bulk):
        assert _leaf_cums(tree) == [1, 2]
    f1, q1 = seq.repulsive_forces(Y, 0.5, condition="scaled")
    f2, q2 = bulk.repulsive_forces(Y, 0.5, condition="scaled")
    np.testing.assert_allclose(f1, f2, rtol=1e-12)
    np.testing.assert_allclose(q1, q2, rtol=1e-12)


def check_bulk_build_equals_insert(d: int, seed: int) -> None:
    """The vectorized level-synchronous build produces a tree structurally
    identical to per-point insert() on adversarial data: exact duplicates,
    points on the root split planes, out-of-root drops."""
    rng = np.random.default_rng(seed)
    base = rng.normal(0, 5.0, (400, d))
    dup = np.repeat(base[:25], 3, axis=0)        # coincident clusters
    onplane = base[:15].copy()
    onplane[:, 0] = 0.0                           # on the axis-0 split plane
    onaxis = base[15:30].copy()
    onaxis[:, -1] = 0.0                           # on the last axis' plane
    outside = rng.normal(0, 5.0, (10, d)) + 100   # dropped by containment
    Y = np.concatenate([base, dup, onplane, onaxis, outside])
    Y = Y[rng.permutation(len(Y))]

    half = float((Y.max(axis=0) - Y.min(axis=0)).max())
    seq = _tree_of(Y, half).trim()
    bulk = _bulk_build(NDTree(np.zeros(d), half), Y).trim()
    assert bulk.cum[0] == seq.cum[0]

    def node_map(t):
        # same mass distribution: canonical path-keyed node maps
        out = {}
        stack = [(0, ())]
        while stack:
            n, path = stack.pop()
            out[path] = (
                int(t.cum[n]), tuple(np.round(t.s[:, n], 9)),
                bool(t.has_point[n]),
                tuple(t.p[:, n]) if t.has_point[n] else None,
            )
            if t.children[n, 0] != -1:
                for c in range(t.nc):
                    stack.append((int(t.children[n, c]), path + (c,)))
        return out

    assert node_map(seq) == node_map(bulk), f"d={d}: tree mismatch"
    # query results agree to float-sum reassociation (np.add.at
    # accumulates s in a different order than sequential insert)
    Q = rng.normal(0, 5.0, (64, d))
    fs, ss = seq.repulsive_forces(Q, 0.5, condition="scaled")
    fb, sb = bulk.repulsive_forces(Q, 0.5, condition="scaled")
    assert np.allclose(fs, fb, rtol=1e-12, atol=1e-12)
    assert np.allclose(ss, sb, rtol=1e-12, atol=1e-12)


def check_depth_exhaustion(d: int) -> None:
    """Points separated only below _MAX_DEPTH levels land in ONE terminal
    accumulate-only leaf (no massless last-level subdivide — that shape
    loses the cluster's mass in force queries, which expand internal nodes
    and drop empty children).  Sequential insert (lex order) and the bulk
    build agree, and exact evaluation sees all the mass."""
    # Coordinates chosen exactly representable, strictly interior to every
    # cell through depth 63 (the 2^-80 guard bit keeps them off all split
    # planes, dodging the documented 1-ulp boundary-drop edge), separated
    # by 2^-70 < root_extent * 2^-63 so they share a cell at every level.
    base = 2.0**-34 + 2.0**-80
    p1 = np.full(d, base)
    p2 = p1.copy()
    p2[0] += 2.0**-70
    far = np.full(d, 0.51)
    Y = np.array([p1, p2, far])

    seq = _tree_of(Y, 1.0).trim()
    bulk = _bulk_build(NDTree(np.zeros(d), 1.0), Y).trim()

    for t in (seq, bulk):
        assert t.cum[0] == 3
        assert int(t.depth[: t.n_nodes].max()) <= _MAX_DEPTH - 1
        md = int(t.depth[: t.n_nodes].max())
        occupied = np.flatnonzero(
            (t.depth[: t.n_nodes] == md) & (t.cum[: t.n_nodes] > 0)
        )
        assert len(occupied) == 1  # one terminal leaf holds the pair
        deepest = int(occupied[0])
        assert t.children[deepest, 0] == -1  # terminal LEAF, not internal
        assert t.cum[deepest] == 2           # both near-coincident points
        assert t.has_point[deepest]
        assert np.array_equal(t.p[:, deepest], p1)

    Q = np.array([far + 0.25])
    brute = sum(1.0 / (1.0 + ((Q[0] - p) ** 2).sum()) for p in Y)
    for t in (seq, bulk):
        _, sq = t.repulsive_forces(Q, 0.0)
        assert np.isclose(sq[0], brute, rtol=1e-9)


# -- d != 2 cases ---------------------------------------------------------------

@pytest.mark.parametrize("dim", [3, 4])
def test_ndtree_theta_zero_matches_exact(dim):
    # a deeper tree than the 2-D case: 400 centred points at scale 5
    check_theta0_matches_bruteforce(dim, n=400, scale=5.0, seed=3)


def test_ndtree_theta_half_accuracy_band_3d():
    """theta=0.5 mean relative force error must be in the same band the 2-D
    tree sits in on comparable data (~0.2 measured, B14): gate <= 0.35."""
    rng = np.random.default_rng(11)
    Y = np.concatenate([
        rng.normal((-10, -5, 8), 3.0, (300, 3)),
        rng.normal((12, 8, -6), 4.0, (300, 3)),
        rng.uniform(-25, 25, (200, 3)),
    ])
    Y -= Y.mean(axis=0)
    tree = build_ndtree(Y)
    forces, sumq = tree.repulsive_forces(Y, theta=0.5, condition="scaled")
    errs = []
    for i in rng.choice(len(Y), 60, replace=False):
        want_f, _ = _exact_rep(Y, Y[i])
        scale = max(np.linalg.norm(want_f), 1e-12)
        errs.append(np.linalg.norm(forces[i] - want_f) / scale)
    assert float(np.mean(errs)) <= 0.35, np.mean(errs)
    # global sum_q (the normalizer) must be tight even when per-point forces
    # cancel: within 5% of exact (measured 1.9% at theta=0.5 on this data —
    # sum_q carries the same COM-approximation error class as the forces)
    exact_total = sum(_exact_rep(Y, Y[i])[1] for i in range(len(Y)))
    assert abs(sumq.sum() - exact_total) / exact_total < 0.05


def test_ndtree_split_reseats_full_coincident_weight():
    check_split_reseats_full_coincident_weight(3)


def test_ndtree_coincident_and_outside_points():
    check_coincident_points(3)


def test_bulk_build_equals_sequential_insert():
    for d in (1, 3, 4):
        check_bulk_build_equals_insert(d, seed=31 + d)


def test_depth_exhaustion_terminal_leaf():
    check_depth_exhaustion(3)


def test_build_rejects_zero_dimensions():
    with pytest.raises(ValueError, match="at least one embedding dimension"):
        build_ndtree(np.zeros((5, 0)))


def test_gradient_3d_barnes_hut_matches_exact(spark):
    """End-to-end through the Spark gradient: n_components=3 with theta>0
    (driver build) must agree with the exact theta=0 gradient within
    the 2-D tolerance band."""
    from tsne_flink_spark.operators.gradient import gradient

    rng = np.random.default_rng(13)
    n = 300
    Y = rng.normal(0, 8.0, (n, 3))
    Y -= Y.mean(axis=0)
    emb = _emb(spark, Y)
    # small ring-sparse P
    p_rows = [(i, (i + 1) % n, 1.0 / n) for i in range(n)]
    p = spark.createDataFrame(p_rows, "i int, j int, v double")

    g_exact, _ = gradient(p, emb, theta=0.0, n_components=3)
    g_bh, _ = gradient(
        p, emb, theta=0.5, n_components=3, bh_condition="scaled",
        tree_build="driver",
    )
    ge = {r["id"]: np.array(r["dy"]) for r in g_exact.collect()}
    gb = {r["id"]: np.array(r["dy"]) for r in g_bh.collect()}
    errs = [
        np.linalg.norm(gb[i] - ge[i]) / max(np.linalg.norm(ge[i]), 1e-12)
        for i in ge
    ]
    assert float(np.mean(errs)) <= 0.35, np.mean(errs)


def test_optimize_3d_full_loop(spark):
    """The driver loop must run end-to-end at n_components=3, theta>0
    (the CLI surface the 2-D-only BH path used to reject)."""
    from tsne_flink_spark.operators.affinities import (
        joint_distribution,
        pairwise_affinities,
    )
    from tsne_flink_spark.operators.embedding import init_working_set
    from tsne_flink_spark.operators.knn import partition_knn
    from tsne_flink_spark.operators.optimize import optimize

    rng = np.random.default_rng(5)
    n = 200
    X = rng.normal(0, 1.0, (n, 8))
    pts = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "id int, features array<double>"
    )
    knn = partition_knn(pts, 6, "sqeuclidean").persist()
    P = joint_distribution(pairwise_affinities(knn, 4.0)).persist()
    ws = init_working_set(pts.select("id"), n_components=3, random_state=0)
    out = optimize(
        P, ws, iterations=4, theta=0.5, n_components=3, bh_condition="scaled"
    )
    rows = out.collect()
    assert len(rows) == n
    Y = np.array([r["y"] for r in rows])
    assert Y.shape == (n, 3)
    assert np.isfinite(Y).all()
    assert np.abs(Y.mean(axis=0)).max() < 1e-6  # ends with center_embedding
