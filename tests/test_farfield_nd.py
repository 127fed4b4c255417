"""d-dimensional far-field summary (operators/farfield.py ND section):
closes the round-6 gap where --nComponents 3 above the broadcast budget
fell back to the O(N) NDTree broadcast.

Gates mirror tests/test_farfield.py's 2-D gates: morton/pyramid algebra,
mass conservation, merge associativity, accuracy class vs exact at d=3,
auto-mode selection, and degenerate-regime fallback equivalence.
"""

import numpy as np
import pytest

from tests.fixtures import exact_repulsion
from tsne_flink_spark.operators import farfield
from tsne_flink_spark.operators.gradient import (
    _repulsive_barnes_hut,
    _repulsive_summary_nd,
)


def _emb(spark, Y):
    return spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(Y)],
        "id int, y array<double>",
    )


def _collect_rep(df):
    rows = df.collect()
    return (
        {r["id"]: np.array(r["rep"]) for r in rows},
        {r["id"]: r["sumq"] for r in rows},
    )


def _rel_err(got, want):
    errs = []
    for i, w in want.items():
        scale = max(np.linalg.norm(w), 1e-12)
        errs.append(np.linalg.norm(got[i] - w) / scale)
    return float(np.mean(errs))


# -- numpy-level units --------------------------------------------------------

def test_morton_nd_roundtrip_and_prefix():
    rng = np.random.default_rng(0)
    for d, depth in [(1, 16), (2, 10), (3, 6), (4, 5)]:
        idx = rng.integers(0, 1 << depth, (500, d))
        code = farfield.morton_encode_nd(idx, depth)
        assert (farfield.morton_decode_nd(code, depth, d) == idx).all()
        # parent-prefix property build_pyramid_nd's reduction relies on
        parent = farfield.morton_encode_nd(idx >> 1, depth - 1)
        assert (parent == code >> d).all()


def test_morton_nd_matches_2d_encoder():
    rng = np.random.default_rng(1)
    idx = rng.integers(0, 1 << 10, (1000, 2))
    assert (
        farfield.morton_encode_nd(idx, 10)
        == farfield.morton_encode(idx[:, 0], idx[:, 1])
    ).all()


def test_plan_nd_degenerate_and_caps():
    assert farfield.plan_summary_nd(100, 3, 1.0, 0.5, "scaled") is None
    assert farfield.plan_summary_nd(10**6, 3, 0.0, 0.5, "scaled") is None
    assert farfield.plan_summary_nd(10**6, 3, 1.0, 0.0, "scaled") is None
    # reference condition on a compressed embedding: halo covers the grid
    assert farfield.plan_summary_nd(10**6, 3, 1e-4, 1e-3, "reference") is None
    p = farfield.plan_summary_nd(10**6, 3, 50.0, 0.5, "scaled")
    assert p is not None
    # total cells bounded by the 2^20 budget: depth <= 20 // d
    assert p.depth <= 20 // 3
    assert p.d == 3 and p.grid == 1 << p.depth


def test_pyramid_nd_mass_conservation_and_merge():
    rng = np.random.default_rng(2)
    plan = farfield.plan_summary_nd(
        10**5, 3, 1.0, 0.5, "scaled", summary_depth=5
    )
    grid, d = plan.grid, plan.d
    k = 700
    cells = rng.choice(grid**d, size=k, replace=False).astype(np.int64)
    cum = rng.integers(1, 100, k)
    s = rng.normal(0, 1, (k, d))
    levels = farfield.build_pyramid_nd(cells, cum, s, plan)
    assert len(levels) == plan.depth + 1
    for lvl in levels:
        assert lvl["cum"].sum() == cum.sum()
        assert np.allclose(lvl["s"].sum(axis=0), s.sum(axis=0), atol=1e-9)
    assert len(levels[0]["code"]) == 1
    # merge of a disjoint split must equal the single build, level by level
    a = farfield.build_pyramid_nd(cells[:300], cum[:300], s[:300], plan)
    b = farfield.build_pyramid_nd(cells[300:], cum[300:], s[300:], plan)
    merged = farfield.merge_pyramids_nd(a, b)
    for lm, lw in zip(merged, levels):
        assert (lm["code"] == lw["code"]).all()
        assert (lm["cum"] == lw["cum"]).all()
        assert np.allclose(lm["s"], lw["s"], atol=1e-9)


def test_far_masses_nd_partition_full_mass():
    rng = np.random.default_rng(3)
    plan = farfield.plan_summary_nd(
        10**5, 3, 1.0, 0.5, "scaled", summary_depth=4
    )
    grid, d = plan.grid, plan.d
    k = 600
    cells = rng.choice(grid**d, size=k, replace=False).astype(np.int64)
    cum = rng.integers(1, 50, k)
    s = rng.normal(0, 1, (k, d))
    levels = farfield.build_pyramid_nd(cells, cum, s, plan)
    block, rc = 1 << plan.block_bits, plan.rc
    bidx = np.array([1, 2, 0], dtype=np.int64)
    halo_lo = bidx * block - rc
    halo_hi = bidx * block + block - 1 + rc
    origin = np.asarray(plan.center) - plan.half
    q_lo = origin + (bidx * block) * plan.cellw
    q_hi = origin + (bidx * block + block) * plan.cellw
    fw, com = farfield.far_masses_nd(levels, plan, halo_lo, halo_hi, q_lo, q_hi)
    assert com.shape[1] == d
    idx = np.zeros((k, d), dtype=np.int64)
    rem = cells.copy()
    for a in range(d):
        idx[:, a] = rem % grid
        rem //= grid
    in_halo = np.all((idx >= halo_lo) & (idx <= halo_hi), axis=1)
    assert fw.sum() + cum[in_halo].sum() == cum.sum()


def test_eval_far_nd_matches_dense():
    rng = np.random.default_rng(4)
    Qp = rng.normal(0, 1, (50, 3))
    w = rng.integers(1, 20, 30).astype(np.float64)
    com = rng.normal(0, 1, (30, 3))
    forces, sumq = farfield.eval_far_nd(Qp, w, com, chunk=16)
    dx = Qp[:, None, :] - com[None, :, :]
    q = 1.0 / (1.0 + (dx * dx).sum(axis=2))
    wq = w[None, :] * q
    assert np.allclose(sumq, wq.sum(axis=1), atol=1e-12)
    assert np.allclose(forces, ((wq * q)[:, :, None] * dx).sum(axis=1), atol=1e-12)


# -- end-to-end Spark equivalence at d=3 --------------------------------------

@pytest.mark.parametrize("condition", ["scaled", "reference"])
def test_summary_nd_matches_bh_accuracy_class(spark, condition):
    """d=3 summary error vs EXACT within ~1.5x of full NDTree BH's error
    (same gate as the 2-D path)."""
    rng = np.random.default_rng(7)
    Y = np.concatenate([
        rng.normal((-20, -10, 5), 6.0, (250, 3)),
        rng.normal((25, 15, -12), 8.0, (250, 3)),
        rng.uniform(-45, 45, (150, 3)),
    ])
    Y = Y - Y.mean(axis=0)
    emb = _emb(spark, Y)
    theta = 0.5
    exact_rep, exact_sumq = exact_repulsion(Y)

    full, used = _repulsive_barnes_hut(
        emb, theta, 3, bh_condition=condition, tree_build="distributed"
    )
    assert not used
    full_rep, full_sumq = _collect_rep(full)

    summ = _repulsive_summary_nd(
        emb, theta, 3, fix_bounds_mean=False, bh_condition=condition,
        summary_depth=4,
    )
    assert summ is not None, "summary plan unexpectedly degenerate"
    summ_rep, summ_sumq = _collect_rep(summ)

    assert set(summ_rep) == set(exact_rep)
    e_full = _rel_err(full_rep, exact_rep)
    e_summ = _rel_err(summ_rep, exact_rep)
    assert e_summ <= max(1.5 * e_full, 1e-9), (e_summ, e_full)
    tot_exact = sum(exact_sumq.values())
    tot_summ = sum(summ_sumq.values())
    tot_full = sum(full_sumq.values())
    assert abs(tot_summ - tot_exact) <= max(
        1.5 * abs(tot_full - tot_exact), 1e-6 * abs(tot_exact)
    )


def test_summary_nd_fallback_gives_full_tree_result(spark):
    """Below the N threshold plan_summary_nd declines; tree_build='summary'
    at d=3 must produce the distributed full-NDTree result exactly."""
    rng = np.random.default_rng(11)
    Y = rng.normal(0, 10.0, (120, 3))
    Y = Y - Y.mean(axis=0)
    emb = _emb(spark, Y)
    via_summary, used_s = _repulsive_barnes_hut(
        emb, 0.5, 3, bh_condition="scaled", tree_build="summary"
    )
    via_full, used_f = _repulsive_barnes_hut(
        emb, 0.5, 3, bh_condition="scaled", tree_build="distributed"
    )
    assert not used_s and not used_f
    s_rep, s_sq = _collect_rep(via_summary)
    f_rep, f_sq = _collect_rep(via_full)
    for i in f_rep:
        assert np.allclose(s_rep[i], f_rep[i], rtol=0, atol=0)
        assert s_sq[i] == f_sq[i]


def test_auto_mode_nd_selects_by_broadcast_budget(spark, monkeypatch):
    """tree_build='auto' at d=3 must pick the d-dim summary above the
    budget (the round-6 gap: it previously ALWAYS broadcast the NDTree)."""
    from tsne_flink_spark.operators import gradient as G

    rng = np.random.default_rng(23)
    Y = rng.normal(0, 30.0, (8192, 3))
    Y = Y - Y.mean(axis=0)
    emb = _emb(spark, Y)

    monkeypatch.setattr(G, "_AUTO_BROADCAST_BUDGET", 1024)
    df_s, used_s = G._repulsive_barnes_hut(
        emb, 0.5, 3, bh_condition="scaled", tree_build="auto"
    )
    assert used_s, "auto at d=3 should select summary above the budget"

    monkeypatch.setattr(G, "_AUTO_BROADCAST_BUDGET", 1 << 40)
    df_f, used_f = G._repulsive_barnes_hut(
        emb, 0.5, 3, bh_condition="scaled", tree_build="auto"
    )
    assert not used_f
    assert df_s.count() == df_f.count() == 8192


def test_summary_nd_uncentered_mass_dropped_like_full_tree(spark):
    """Root centered at the origin (quirk Q1): a d=3 embedding far from the
    origin has its mass dropped — zero repulsion, not a crash."""
    rng = np.random.default_rng(13)
    Y = rng.normal((1000.0, 1000.0, 1000.0), 1.0, (5000, 3))
    emb = _emb(spark, Y)
    summ = _repulsive_summary_nd(
        emb, 0.5, 3, fix_bounds_mean=False, bh_condition="scaled",
        summary_depth=4,
    )
    assert summ is not None
    rows = summ.collect()
    assert len(rows) == 5000
    assert all(r["sumq"] == 0.0 for r in rows)
    assert all(r["rep"] == [0.0, 0.0, 0.0] for r in rows)


def test_summary_nd_full_optimize_loop(spark):
    """Integration: the d=3 summary path must survive the real driver loop
    (materialize between iterations, fresh pyramid broadcast per step) at
    a size where plan_summary_nd does NOT fall back, and produce a usable
    embedding (finite, centered per component)."""
    from tsne_flink_spark.operators.affinities import (
        joint_distribution,
        pairwise_affinities,
    )
    from tsne_flink_spark.operators.embedding import init_working_set
    from tsne_flink_spark.operators.knn import partition_knn
    from tsne_flink_spark.operators.optimize import optimize

    rng = np.random.default_rng(5)
    n = 4500  # above the 4096 auto-mode threshold
    X = rng.normal(0, 1.0, (n, 8))
    pts = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "id int, features array<double>"
    )
    knn = partition_knn(pts, 8, "sqeuclidean").persist()
    P = joint_distribution(pairwise_affinities(knn, 5.0)).persist()
    ws = init_working_set(pts.select("id"), n_components=3, random_state=0)
    out = optimize(
        P, ws, iterations=3, theta=0.5, n_components=3,
        bh_condition="scaled", tree_build="summary",
    )
    rows = out.collect()
    assert len(rows) == n
    Y = np.array([r["y"] for r in rows])
    assert Y.shape == (n, 3) and np.isfinite(Y).all()
    assert np.abs(Y.mean(axis=0)).max() < 1e-6
