"""Far-field summary repulsion (operators/farfield.py, BASELINE.md B11):
the scale path that replaces the per-iteration O(N) tree broadcast with a
depth-capped pyramid broadcast + near-field shuffle.

Gates:
- accuracy class: summary-mode forces at theta match full-tree Barnes-Hut
  against the EXACT (theta=0) gradient — error no worse than ~1.5x the
  full-tree error on random data;
- mass conservation: the pyramid's root equals the input count/sums, and a
  block's far masses + halo cells partition the full mass;
- degenerate regimes (tiny N, zero extent, halo ~ grid) fall back to the
  full-tree path and produce its exact result.
"""

import math

import numpy as np
import pytest

from tests.fixtures import exact_repulsion
from tsne_flink_spark.operators import farfield
from tsne_flink_spark.operators.gradient import (
    _repulsive_barnes_hut,
)


def _emb(spark, Y):
    return spark.createDataFrame(
        [(int(i), [float(x), float(y)]) for i, (x, y) in enumerate(Y)],
        "id int, y array<double>",
    )


def _collect_rep(df):
    rows = df.collect()
    rep = {r["id"]: np.array(r["rep"]) for r in rows}
    sumq = {r["id"]: r["sumq"] for r in rows}
    return rep, sumq


def _rel_err(got, want):
    errs = []
    for i, w in want.items():
        scale = max(np.linalg.norm(w), 1e-12)
        errs.append(np.linalg.norm(got[i] - w) / scale)
    return float(np.mean(errs))


# -- numpy-level units --------------------------------------------------------

def test_morton_roundtrip():
    rng = np.random.default_rng(0)
    ix = rng.integers(0, 1 << 10, 1000)
    iy = rng.integers(0, 1 << 10, 1000)
    code = farfield.morton_encode(ix, iy)
    rx, ry = farfield.morton_decode(code)
    assert (rx == ix).all() and (ry == iy).all()
    # parent-prefix property: the code of the half-resolution cell is the
    # child code >> 2 (what build_pyramid's level reduction relies on)
    assert (farfield.morton_encode(ix >> 1, iy >> 1) == code >> 2).all()


def test_plan_degenerate_regimes():
    assert farfield.plan_summary(100, 1.0, 0.5, "scaled") is None  # tiny N
    assert farfield.plan_summary(10**6, 0.0, 0.5, "scaled") is None  # no extent
    assert farfield.plan_summary(10**6, 1.0, 0.0, "scaled") is None  # theta 0
    # reference condition on a compressed embedding: halo covers the grid
    assert farfield.plan_summary(10**6, 1e-4, 1e-3, "reference") is None
    p = farfield.plan_summary(10**6, 50.0, 0.5, "scaled")
    assert p is not None and p.rc == 1  # scaled: rc = ceil(1/(2 theta))


def test_pyramid_mass_conservation():
    rng = np.random.default_rng(1)
    plan = farfield.plan_summary(10**5, 1.0, 0.5, "scaled", summary_depth=6)
    grid = plan.grid
    k = 500
    cells = rng.choice(grid * grid, size=k, replace=False).astype(np.int64)
    cum = rng.integers(1, 100, k)
    sx = rng.normal(0, 1, k)
    sy = rng.normal(0, 1, k)
    levels = farfield.build_pyramid(cells, cum, sx, sy, plan)
    assert len(levels) == plan.depth + 1
    for lvl in levels:
        assert lvl["cum"].sum() == cum.sum()
        assert abs(lvl["sx"].sum() - sx.sum()) < 1e-9
        assert abs(lvl["sy"].sum() - sy.sum()) < 1e-9
    # root is a single node with everything
    assert len(levels[0]["code"]) == 1


def test_far_masses_partition_full_mass():
    """far emissions + halo-cell masses must exactly partition the total."""
    rng = np.random.default_rng(2)
    plan = farfield.plan_summary(10**5, 1.0, 0.5, "scaled", summary_depth=6)
    grid = plan.grid
    k = 800
    cells = rng.choice(grid * grid, size=k, replace=False).astype(np.int64)
    cum = rng.integers(1, 50, k)
    sx = rng.normal(0, 1, k)
    sy = rng.normal(0, 1, k)
    levels = farfield.build_pyramid(cells, cum, sx, sy, plan)
    block = 1 << plan.block_bits
    bx, by = 2, 3
    halo = (
        bx * block - plan.rc, bx * block + block - 1 + plan.rc,
        by * block - plan.rc, by * block + block - 1 + plan.rc,
    )
    # query bbox = the block's coordinate rectangle
    w = plan.cellw
    qbbox = (
        plan.mx - plan.half + halo[0] * w + plan.rc * w,
        plan.mx - plan.half + (halo[1] + 1) * w - plan.rc * w,
        plan.my - plan.half + halo[2] * w + plan.rc * w,
        plan.my - plan.half + (halo[3] + 1) * w - plan.rc * w,
    )
    fw, _, _ = farfield.far_masses(levels, plan, halo, qbbox)
    ix = cells // grid
    iy = cells % grid
    in_halo = (
        (ix >= halo[0]) & (ix <= halo[1]) & (iy >= halo[2]) & (iy <= halo[3])
    )
    assert fw.sum() + cum[in_halo].sum() == cum.sum()


# -- end-to-end Spark equivalence --------------------------------------------

@pytest.mark.parametrize("condition", ["scaled", "reference"])
def test_summary_matches_bh_accuracy_class(spark, condition):
    """Summary-mode error vs EXACT must be within ~1.5x of full-tree BH's
    error at the same theta (the far field is summarized at the same-or-finer
    granularity, so it should generally be MORE accurate)."""
    rng = np.random.default_rng(7)
    # two clusters + noise, spread enough that the reference condition
    # doesn't degenerate to exact
    Y = np.concatenate([
        rng.normal((-20, -10), 6.0, (300, 2)),
        rng.normal((25, 15), 8.0, (300, 2)),
        rng.uniform(-45, 45, (200, 2)),
    ])
    Y = Y - Y.mean(axis=0)
    emb = _emb(spark, Y)
    theta = 0.5
    exact_rep, exact_sumq = exact_repulsion(Y)

    full, used = _repulsive_barnes_hut(
        emb, theta, 2, bh_condition=condition, tree_build="distributed"
    )
    assert not used
    full_rep, full_sumq = _collect_rep(full)

    # force the summary path at a depth where blocking is meaningful
    from tsne_flink_spark.operators.gradient import _repulsive_summary
    summ = _repulsive_summary(
        emb, theta, fix_bounds_mean=False, bh_condition=condition,
        summary_depth=5,
    )
    assert summ is not None, "summary plan unexpectedly degenerate"
    summ_rep, summ_sumq = _collect_rep(summ)

    assert set(summ_rep) == set(exact_rep)
    e_full = _rel_err(full_rep, exact_rep)
    e_summ = _rel_err(summ_rep, exact_rep)
    assert e_summ <= max(1.5 * e_full, 1e-9), (e_summ, e_full)
    # sumq (the global normalizer) must agree tightly in aggregate
    tot_exact = sum(exact_sumq.values())
    tot_summ = sum(summ_sumq.values())
    tot_full = sum(full_sumq.values())
    assert abs(tot_summ - tot_exact) <= max(
        1.5 * abs(tot_full - tot_exact), 1e-6 * abs(tot_exact)
    )


def test_summary_fallback_gives_full_tree_result(spark):
    """Below the N threshold plan_summary declines and the gradient falls
    back to the distributed full tree — results must be IDENTICAL."""
    rng = np.random.default_rng(11)
    Y = rng.normal(0, 10.0, (120, 2))
    Y = Y - Y.mean(axis=0)
    emb = _emb(spark, Y)
    via_summary, used_s = _repulsive_barnes_hut(
        emb, 0.5, 2, bh_condition="scaled", tree_build="summary"
    )
    via_full, used_f = _repulsive_barnes_hut(
        emb, 0.5, 2, bh_condition="scaled", tree_build="distributed"
    )
    assert not used_s and not used_f  # summary declined -> full-tree fallback
    s_rep, s_sq = _collect_rep(via_summary)
    f_rep, f_sq = _collect_rep(via_full)
    for i in f_rep:
        assert np.allclose(s_rep[i], f_rep[i], rtol=0, atol=0)
        assert s_sq[i] == f_sq[i]


def test_summary_uncentered_mass_dropped_like_full_tree(spark):
    """Reference quirk: the root is centered at (0,0); points outside it are
    dropped from the tree.  An embedding far from the origin must produce
    zero repulsion in BOTH modes (mass side empty), not a crash."""
    rng = np.random.default_rng(13)
    Y = rng.normal((1000.0, 1000.0), 1.0, (5000, 2))  # span ~ 12, center 1000
    emb = _emb(spark, Y)
    from tsne_flink_spark.operators.gradient import _repulsive_summary
    summ = _repulsive_summary(
        emb, 0.5, fix_bounds_mean=False, bh_condition="scaled",
        summary_depth=5,
    )
    assert summ is not None
    rows = summ.collect()
    assert len(rows) == 5000
    assert all(r["sumq"] == 0.0 for r in rows)
    assert all(r["rep"] == [0.0, 0.0] for r in rows)


def test_summary_large_n_spark_path(spark):
    """End-to-end through the real plan path (auto depth) at N=8192 —
    exercises the cogroup, halo explode, and broadcast pyramid wiring."""
    rng = np.random.default_rng(17)
    Y = rng.normal(0, 30.0, (8192, 2))
    Y = Y - Y.mean(axis=0)
    emb = _emb(spark, Y)
    res, used = _repulsive_barnes_hut(
        emb, 0.5, 2, bh_condition="scaled", tree_build="summary"
    )
    assert used
    rep, sumq = _collect_rep(res)
    assert len(rep) == 8192

    full, _used = _repulsive_barnes_hut(
        emb, 0.5, 2, bh_condition="scaled", tree_build="distributed"
    )
    full_rep, _ = _collect_rep(full)

    # spot-check 64 points against exact brute force in numpy; interior
    # points have near-cancelling net repulsion, so the ABSOLUTE error level
    # is data-dependent (~0.2 mean rel here even for full-tree BH at
    # theta=0.5) — the gate is that summary is no worse than full-tree
    def mean_err(got):
        idx = np.random.default_rng(99).choice(8192, 64, replace=False)
        errs = []
        for i in idx:
            d = Y[i] - Y
            D2 = (d * d).sum(axis=1)
            q = 1.0 / (1.0 + D2)
            q[i] = 0.0
            want = (q[:, None] ** 2 * d).sum(axis=0)
            scale = max(np.linalg.norm(want), 1e-12)
            errs.append(np.linalg.norm(got[int(i)] - want) / scale)
        return float(np.mean(errs))

    e_summ, e_full = mean_err(rep), mean_err(full_rep)
    assert e_summ <= 1.2 * e_full, (e_summ, e_full)


def test_auto_mode_selects_by_broadcast_budget(spark, monkeypatch):
    """tree_build='auto' must pick summary when the estimated full-tree
    broadcast exceeds the budget and full-tree below it (VERDICT r4 #1)."""
    from tsne_flink_spark.operators import gradient as G

    rng = np.random.default_rng(23)
    Y = rng.normal(0, 30.0, (8192, 2))
    Y = Y - Y.mean(axis=0)
    emb = _emb(spark, Y)

    monkeypatch.setattr(G, "_AUTO_BROADCAST_BUDGET", 1024)
    df_s, used_s = G._repulsive_barnes_hut(
        emb, 0.5, 2, bh_condition="scaled", tree_build="auto"
    )
    assert used_s, "auto should select summary above the budget"

    monkeypatch.setattr(G, "_AUTO_BROADCAST_BUDGET", 1 << 40)
    df_f, used_f = G._repulsive_barnes_hut(
        emb, 0.5, 2, bh_condition="scaled", tree_build="auto"
    )
    assert not used_f, "auto should keep the full tree below the budget"
    assert df_s.count() == df_f.count() == 8192


def test_summary_mode_full_optimize_loop(spark, monkeypatch):
    """Integration: the summary path must survive the real driver loop
    (materialize/localCheckpoint between iterations, a fresh pyramid
    broadcast per step) at a size where plan_summary does NOT fall back,
    and still produce a usable embedding (finite, centered, loss sink
    populated) without ever collecting Y on the driver."""
    import numpy as np

    from tsne_flink_spark.operators import gradient as G

    def no_collect(*args, **kwargs):
        raise AssertionError("Y collected on the driver")

    monkeypatch.setattr(G, "collect_y", no_collect)
    from tsne_flink_spark.operators.affinities import (
        joint_distribution,
        pairwise_affinities,
    )
    from tsne_flink_spark.operators.embedding import init_working_set
    from tsne_flink_spark.operators.knn import partition_knn
    from tsne_flink_spark.operators.optimize import optimize

    rng = np.random.default_rng(3)
    n = 4500  # above the 4096 auto-mode threshold
    X = rng.normal(0, 1.0, (n, 8))
    pts = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "id int, features array<double>"
    )
    knn = partition_knn(pts, 8, "sqeuclidean").persist()
    P = joint_distribution(pairwise_affinities(knn, 5.0)).persist()
    ws = init_working_set(pts.select("id"), n_components=2, random_state=0)
    out = optimize(
        P, ws, iterations=3, theta=0.5, bh_condition="scaled",
        tree_build="summary",
    )
    rows = out.collect()
    assert len(rows) == n
    Y = np.array([r["y"] for r in rows])
    assert np.isfinite(Y).all()
    # the loop ends with center_embedding
    assert abs(Y[:, 0].mean()) < 1e-6 and abs(Y[:, 1].mean()) < 1e-6
