"""Far-field summary repulsion (operators/farfield.py, BASELINE.md B11): the
scale path that replaces the per-iteration O(N) tree broadcast with a
depth-capped pyramid broadcast + near-field shuffle, for any d.

Each behaviour is one ``check_*`` body taking the dimension.  This module
runs the d=3 cases (and d-sweeps); the d=2 cases run under their original
names in tests/test_farfield.py.

Gates:
- morton/pyramid algebra: roundtrip and parent-prefix codes, mass
  conservation per level, merge of a disjoint split equals one build, and a
  block's far masses + halo cells partition the full mass;
- accuracy class: summary-mode forces at theta match full-tree Barnes-Hut
  against the EXACT (theta=0) gradient — error no worse than ~1.5x the
  full-tree error on random data;
- degenerate regimes (tiny N, zero extent, halo ~ grid) fall back to the
  driver-built full tree and produce its exact result; auto selects summary
  above the broadcast budget.
"""

import numpy as np
import pytest

from tests.fixtures import exact_repulsion, repulsive_barnes_hut
from tsne_flink_spark.operators import farfield
from tsne_flink_spark.operators.gradient import _repulsive_summary


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


def _cell_index(cells, grid, d):
    """(k, d) per-axis indices of linear cell ids sum_a i_a * grid^a."""
    return np.stack([(cells // grid**a) % grid for a in range(d)], axis=1)


# -- check bodies (one per behaviour, d-generic) ------------------------------

def check_morton_roundtrip(d: int, depth: int, seed: int = 0) -> None:
    rng = np.random.default_rng(seed)
    idx = rng.integers(0, 1 << depth, (500, d))
    code = farfield.morton_encode(idx, depth)
    assert (farfield.morton_decode(code, depth, d) == idx).all()
    # parent-prefix property: the code of the half-resolution cell is the
    # child code >> d (what build_pyramid's level reduction relies on)
    parent = farfield.morton_encode(idx >> 1, depth - 1)
    assert (parent == code >> d).all()


def check_plan_degenerate(d: int) -> None:
    assert farfield.plan_summary(100, d, 1.0, 0.5, "scaled") is None  # tiny N
    assert farfield.plan_summary(10**6, d, 0.0, 0.5, "scaled") is None  # no extent
    assert farfield.plan_summary(10**6, d, 1.0, 0.0, "scaled") is None  # theta 0
    # reference condition on a compressed embedding: halo covers the grid
    assert farfield.plan_summary(10**6, d, 1e-4, 1e-3, "reference") is None
    p = farfield.plan_summary(10**6, d, 50.0, 0.5, "scaled")
    assert p is not None and p.rc == 1  # scaled: rc = ceil(1/(2 theta))
    # total cells bounded by the 2^20 budget: depth <= 20 // d
    assert p.depth <= 20 // d
    assert p.d == d and p.grid == 1 << p.depth


def check_pyramid_mass_and_merge(d: int, depth: int, k: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    plan = farfield.plan_summary(
        10**5, d, 1.0, 0.5, "scaled", summary_depth=depth
    )
    cells = rng.choice(plan.grid**d, size=k, replace=False).astype(np.int64)
    cum = rng.integers(1, 100, k)
    s = rng.normal(0, 1, (k, d))
    levels = farfield.build_pyramid(cells, cum, s, plan)
    assert len(levels) == plan.depth + 1
    for lvl in levels:
        assert lvl["cum"].sum() == cum.sum()
        np.testing.assert_allclose(
            lvl["s"].sum(axis=0), s.sum(axis=0), rtol=0, atol=1e-9
        )
    # root is a single node with everything
    assert len(levels[0]["code"]) == 1
    # merge of a disjoint split must equal the single build, level by level
    h = k // 2
    a = farfield.build_pyramid(cells[:h], cum[:h], s[:h], plan)
    b = farfield.build_pyramid(cells[h:], cum[h:], s[h:], plan)
    for lm, lw in zip(farfield.merge_pyramids(a, b), levels):
        assert (lm["code"] == lw["code"]).all()
        assert (lm["cum"] == lw["cum"]).all()
        assert np.allclose(lm["s"], lw["s"], atol=1e-9)


def check_far_masses_partition(d: int, depth: int, k: int, bidx,
                               seed: int) -> None:
    """far emissions + halo-cell masses must exactly partition the total."""
    rng = np.random.default_rng(seed)
    plan = farfield.plan_summary(
        10**5, d, 1.0, 0.5, "scaled", summary_depth=depth
    )
    grid = plan.grid
    cells = rng.choice(grid**d, size=k, replace=False).astype(np.int64)
    cum = rng.integers(1, 50, k)
    s = rng.normal(0, 1, (k, d))
    levels = farfield.build_pyramid(cells, cum, s, plan)
    block, rc = 1 << plan.block_bits, plan.rc
    bidx = np.asarray(bidx, dtype=np.int64)
    halo_lo = bidx * block - rc
    halo_hi = bidx * block + block - 1 + rc
    # query bbox = the block's coordinate box
    origin = np.asarray(plan.center) - plan.half
    q_lo = origin + (bidx * block) * plan.cellw
    q_hi = origin + (bidx * block + block) * plan.cellw
    fw, com = farfield.far_masses(levels, plan, halo_lo, halo_hi, q_lo, q_hi)
    assert com.shape[1] == d
    idx = _cell_index(cells, grid, d)
    in_halo = np.all((idx >= halo_lo) & (idx <= halo_hi), axis=1)
    assert fw.sum() + cum[in_halo].sum() == cum.sum()


def check_summary_accuracy_class(spark, Y, depth: int, condition: str) -> None:
    """Summary-mode error vs EXACT must be within ~1.5x of full-tree BH's
    error at the same theta (the far field is summarized at the same-or-finer
    granularity, so it should generally be MORE accurate)."""
    d = Y.shape[1]
    emb = _emb(spark, Y)
    theta = 0.5
    exact_rep, exact_sumq = exact_repulsion(Y)

    full, used = repulsive_barnes_hut(
        emb, theta, d, bh_condition=condition, tree_build="driver"
    )
    assert not used
    full_rep, full_sumq = _collect_rep(full)

    # force the summary path at a depth where blocking is meaningful
    summ = _repulsive_summary(
        emb, theta, d, fix_bounds_mean=False, bh_condition=condition,
        summary_depth=depth,
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


def check_summary_fallback(spark, d: int) -> None:
    """Below ``MIN_SUMMARY_N`` plan_summary declines, and
    tree_build='summary' takes the driver build unchanged: attr, rep,
    per-row sumq and the loss equal tree_build='driver' bit for bit
    (centred, so the fallback must use the NumPy mean, not the bounds
    aggregate's)."""
    from tsne_flink_spark.operators.gradient import (
        attach_p,
        fused_pass,
        sum_q_and_loss,
    )
    from tsne_flink_spark.operators.optimize import materialize
    from tsne_flink_spark.sources.readers import coo_from_rows

    rng = np.random.default_rng(11)
    n = 120
    Y = rng.normal(0, 10.0, (n, d))
    edges = [(i, (i + k) % n, float(rng.uniform(0.1, 1.0)))
             for i in range(n) for k in (1, 7)]
    rows = materialize(attach_p(_emb(spark, Y), coo_from_rows(spark, edges)))
    got = {}
    for tree_build in ("summary", "driver"):
        kern, used, partials = fused_pass(
            rows, 0.5, d, centre=True, bh_condition="scaled",
            tree_build=tree_build,
        )
        assert not used  # summary declined -> driver-build fallback
        out = {r["id"]: (r["attr"], r["rep"], r["sumq"])
               for r in materialize(kern).collect()}
        got[tree_build] = out, sum_q_and_loss(partials)
    assert len(got["driver"][0]) == n
    assert got["summary"] == got["driver"]


def check_uncentred_mass_dropped(spark, d: int, depth: int) -> None:
    """Reference quirk Q1: the root is centred at the origin; points outside
    it are dropped from the tree.  An embedding far from the origin must
    produce zero repulsion (mass side empty), not a crash."""
    rng = np.random.default_rng(13)
    Y = rng.normal(np.full(d, 1000.0), 1.0, (5000, d))
    summ = _repulsive_summary(
        _emb(spark, Y), 0.5, d, fix_bounds_mean=False, bh_condition="scaled",
        summary_depth=depth,
    )
    assert summ is not None
    rows = summ.collect()
    assert len(rows) == 5000
    assert all(r["sumq"] == 0.0 for r in rows)
    assert all(r["rep"] == [0.0] * d for r in rows)


def check_auto_mode(spark, monkeypatch, d: int) -> None:
    """tree_build='auto' must pick summary when the estimated full-tree
    broadcast exceeds the budget and the full tree below it."""
    from tsne_flink_spark.operators import gradient as G

    rng = np.random.default_rng(23)
    Y = rng.normal(0, 30.0, (8192, d))
    Y = Y - Y.mean(axis=0)
    emb = _emb(spark, Y)

    monkeypatch.setattr(G, "_AUTO_BROADCAST_BUDGET", 1024)
    df_s, used_s = repulsive_barnes_hut(
        emb, 0.5, d, bh_condition="scaled", tree_build="auto"
    )
    assert used_s, "auto should select summary above the budget"

    monkeypatch.setattr(G, "_AUTO_BROADCAST_BUDGET", 1 << 40)
    df_f, used_f = repulsive_barnes_hut(
        emb, 0.5, d, bh_condition="scaled", tree_build="auto"
    )
    assert not used_f, "auto should keep the full tree below the budget"
    assert df_s.count() == df_f.count() == 8192


def check_summary_optimize_loop(spark, monkeypatch, d: int, seed: int) -> None:
    """Integration: the summary path must survive the real driver loop
    (materialize between iterations, a fresh pyramid broadcast per step) at
    a size where plan_summary does NOT fall back, and still produce a
    usable embedding (finite, centred per component) without ever
    collecting Y on the driver."""
    from tsne_flink_spark.operators import gradient as G
    from tsne_flink_spark.operators.affinities import (
        joint_distribution,
        pairwise_affinities,
    )
    from tsne_flink_spark.operators.embedding import init_working_set
    from tsne_flink_spark.operators.knn import partition_knn
    from tsne_flink_spark.operators.optimize import optimize

    def no_collect(*args, **kwargs):
        raise AssertionError("Y collected on the driver")

    monkeypatch.setattr(G, "collect_y", no_collect)
    rng = np.random.default_rng(seed)
    n = 4500  # above the 4096 auto-mode threshold
    X = rng.normal(0, 1.0, (n, 8))
    pts = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "id int, features array<double>"
    )
    knn = partition_knn(pts, 8, "sqeuclidean").persist()
    P = joint_distribution(pairwise_affinities(knn, 5.0)).persist()
    ws = init_working_set(pts.select("id"), n_components=d, random_state=0)
    out = optimize(
        P, ws, iterations=3, theta=0.5, n_components=d,
        bh_condition="scaled", tree_build="summary",
    )
    rows = out.collect()
    assert len(rows) == n
    Y = np.array([r["y"] for r in rows])
    assert Y.shape == (n, d) and np.isfinite(Y).all()
    # the loop ends with center_embedding
    assert np.abs(Y.mean(axis=0)).max() < 1e-6


# -- numpy-level units --------------------------------------------------------

def test_morton_nd_roundtrip_and_prefix():
    for d, depth in [(1, 16), (3, 6), (4, 5)]:
        check_morton_roundtrip(d, depth)


def test_morton_nd_matches_2d_encoder():
    """At d=2 the code interleaves axis 0 into the odd bits and axis 1 into
    the even bits, the layout of the 2-D bit-spreading encoder this one
    replaced: (ix, iy) = (0b11, 0b01) -> 0b1011."""
    idx = np.array([[1, 0], [0, 1], [3, 1], [2, 3], [1023, 0]])
    want = [0b10, 0b01, 0b1011, 0b1101, int("10" * 10, 2)]
    assert farfield.morton_encode(idx, 10).tolist() == want


def test_plan_nd_degenerate_and_caps():
    check_plan_degenerate(3)


def test_pyramid_nd_mass_conservation_and_merge():
    check_pyramid_mass_and_merge(3, depth=5, k=700, seed=2)


def test_far_masses_nd_partition_full_mass():
    check_far_masses_partition(3, depth=4, k=600, bidx=[1, 2, 0], seed=3)


def test_eval_far_nd_matches_dense():
    rng = np.random.default_rng(4)
    for d in (2, 3):
        Qp = rng.normal(0, 1, (50, d))
        w = rng.integers(1, 20, 30).astype(np.float64)
        com = rng.normal(0, 1, (30, d))
        forces, sumq = farfield.eval_far(Qp, w, com, chunk=16)
        dx = Qp[:, None, :] - com[None, :, :]
        q = 1.0 / (1.0 + (dx * dx).sum(axis=2))
        wq = w[None, :] * q
        assert np.allclose(sumq, wq.sum(axis=1), atol=1e-12)
        assert np.allclose(
            forces, ((wq * q)[:, :, None] * dx).sum(axis=1), atol=1e-12
        )


# -- end-to-end Spark equivalence at d=3 --------------------------------------

@pytest.mark.parametrize("condition", ["scaled", "reference"])
def test_summary_nd_matches_bh_accuracy_class(spark, condition):
    rng = np.random.default_rng(7)
    Y = np.concatenate([
        rng.normal((-20, -10, 5), 6.0, (250, 3)),
        rng.normal((25, 15, -12), 8.0, (250, 3)),
        rng.uniform(-45, 45, (150, 3)),
    ])
    check_summary_accuracy_class(spark, Y - Y.mean(axis=0), 4, condition)


def test_summary_nd_fallback_gives_full_tree_result(spark):
    check_summary_fallback(spark, 3)


def test_auto_mode_nd_selects_by_broadcast_budget(spark, monkeypatch):
    check_auto_mode(spark, monkeypatch, 3)


def test_summary_nd_uncentered_mass_dropped_like_full_tree(spark):
    check_uncentred_mass_dropped(spark, 3, depth=4)


def test_summary_nd_full_optimize_loop(spark, monkeypatch):
    check_summary_optimize_loop(spark, monkeypatch, 3, seed=5)
