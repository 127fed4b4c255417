"""The d=2 cases of the far-field summary checks (operators/farfield.py,
BASELINE.md B11).  The bodies live in tests/test_farfield_nd.py, which runs
the same checks at d=3; these keep the 2-D cases under their original
names, plus the large-N end-to-end run, which is 2-D only.
"""

import numpy as np
import pytest

from tests.test_farfield_nd import (
    _collect_rep,
    _emb,
    check_auto_mode,
    check_far_masses_partition,
    check_morton_roundtrip,
    check_plan_degenerate,
    check_pyramid_mass_and_merge,
    check_summary_accuracy_class,
    check_summary_fallback,
    check_summary_optimize_loop,
    check_uncentred_mass_dropped,
)
from tests.fixtures import repulsive_barnes_hut


def test_morton_roundtrip():
    check_morton_roundtrip(2, 10)


def test_plan_degenerate_regimes():
    check_plan_degenerate(2)


def test_pyramid_mass_conservation():
    check_pyramid_mass_and_merge(2, depth=6, k=500, seed=1)


def test_far_masses_partition_full_mass():
    check_far_masses_partition(2, depth=6, k=800, bidx=[2, 3], seed=2)


@pytest.mark.parametrize("condition", ["scaled", "reference"])
def test_summary_matches_bh_accuracy_class(spark, condition):
    rng = np.random.default_rng(7)
    # two clusters + noise, spread enough that the reference condition
    # doesn't degenerate to exact
    Y = np.concatenate([
        rng.normal((-20, -10), 6.0, (300, 2)),
        rng.normal((25, 15), 8.0, (300, 2)),
        rng.uniform(-45, 45, (200, 2)),
    ])
    check_summary_accuracy_class(spark, Y - Y.mean(axis=0), 5, condition)


def test_summary_fallback_gives_full_tree_result(spark):
    check_summary_fallback(spark, 2)


def test_summary_uncentered_mass_dropped_like_full_tree(spark):
    check_uncentred_mass_dropped(spark, 2, depth=5)


def test_summary_large_n_spark_path(spark):
    """End-to-end through the real plan path (auto depth) at N=8192 —
    exercises the cogroup, halo explode, and broadcast pyramid wiring."""
    rng = np.random.default_rng(17)
    Y = rng.normal(0, 30.0, (8192, 2))
    Y = Y - Y.mean(axis=0)
    emb = _emb(spark, Y)
    res, used = repulsive_barnes_hut(
        emb, 0.5, 2, bh_condition="scaled", tree_build="summary"
    )
    assert used
    rep, sumq = _collect_rep(res)
    assert len(rep) == 8192

    full, _used = repulsive_barnes_hut(
        emb, 0.5, 2, bh_condition="scaled", tree_build="driver"
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
    check_auto_mode(spark, monkeypatch, 2)


def test_summary_mode_full_optimize_loop(spark, monkeypatch):
    check_summary_optimize_loop(spark, monkeypatch, 2, seed=3)
