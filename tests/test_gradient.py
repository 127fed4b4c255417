"""Gradient / update / centering / iteration golden tests —
mirrors TsneHelpersTestSuite.scala:139-327."""

from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.fixtures import (
    CENTERING_INPUT,
    CENTERING_RESULTS,
    DENSE_GRADIENT_RESULTS,
    DENSE_JOINT_PROBABILITIES,
    INITIAL_EMBEDDING,
    UPDATED_AND_CENTERED_EMBEDDING_RESULTS,
    UPDATED_EMBEDDING_RESULTS,
)
from tsne_flink_spark.operators.affinities import (
    joint_distribution,
    pairwise_affinities,
)
from tsne_flink_spark.operators.embedding import (
    center_embedding,
    init_working_set,
    update_embedding,
)
from tsne_flink_spark.operators.gradient import gradient
from tsne_flink_spark.operators.knn import k_nearest_neighbors, partition_knn
from tsne_flink_spark.operators.optimize import iteration_computation, materialize
from tsne_flink_spark.schemas import EMBEDDING, WORKING_SET
from tsne_flink_spark.sources.readers import coo_from_rows


def _embedding_df(spark, rows):
    return spark.createDataFrame(rows, EMBEDDING)


def _working_set_df(spark, embedding_rows):
    d = len(embedding_rows[0][1])
    return spark.createDataFrame(
        [(i, y, [0.0] * d, [1.0] * d) for i, y in embedding_rows], WORKING_SET
    )


def _assert_vectors(rows, expected, abs_tol):
    got = {r[0]: list(r[1]) for r in rows}
    assert len(got) == len(expected)
    for pid, vec in expected:
        assert pid in got
        for a, b in zip(got[pid], vec):
            assert a == pytest.approx(b, abs=abs_tol)


def test_gradient_theta0_goldens(spark):
    p = coo_from_rows(spark, DENSE_JOINT_PROBABILITIES)
    y = _embedding_df(spark, INITIAL_EMBEDDING)
    grad, loss = gradient(p, y, metric="sqeuclidean", theta=0.0, n_components=2)
    _assert_vectors(
        [(r["id"], r["dy"]) for r in grad.collect()], DENSE_GRADIENT_RESULTS, 1e-12
    )
    assert loss is None


def test_gradient_barnes_hut_theta0_equals_exact(spark):
    """theta=0 through the tree path must equal the exact path — the
    reference's own regression trick (TsneHelpersTestSuite.scala:187)."""
    p = coo_from_rows(spark, DENSE_JOINT_PROBABILITIES)
    y = _embedding_df(spark, INITIAL_EMBEDDING)
    grad, _ = gradient(p, y, theta=1e-300, n_components=2)  # BH path, no summarization
    _assert_vectors(
        [(r["id"], r["dy"]) for r in grad.collect()], DENSE_GRADIENT_RESULTS, 1e-12
    )


def test_gradient_barnes_hut_approximation_close(spark):
    p = coo_from_rows(spark, DENSE_JOINT_PROBABILITIES)
    y = _embedding_df(spark, INITIAL_EMBEDDING)
    grad, _ = gradient(p, y, theta=0.25, n_components=2)
    # BH with theta=0.25 should be within a loose tolerance of exact
    _assert_vectors(
        [(r["id"], r["dy"]) for r in grad.collect()], DENSE_GRADIENT_RESULTS, 1e-2
    )


def test_center_embedding(spark):
    ws = _working_set_df(spark, CENTERING_INPUT)
    rows = center_embedding(ws, 2).select("id", "y").collect()
    _assert_vectors([(r["id"], r["y"]) for r in rows], CENTERING_RESULTS, 0.0)


def test_update_embedding_goldens(spark):
    grad = spark.createDataFrame(
        [(i, v) for i, v in DENSE_GRADIENT_RESULTS], "id int, dy array<double>"
    )
    ws = _working_set_df(spark, INITIAL_EMBEDDING)
    out = update_embedding(grad, ws, min_gain=0.01, momentum=0.5, learning_rate=300)
    _assert_vectors(
        [(r["id"], r["y"]) for r in out.collect()], UPDATED_EMBEDDING_RESULTS, 1e-9
    )


def test_iteration_computation_goldens(spark):
    p = coo_from_rows(spark, DENSE_JOINT_PROBABILITIES)
    ws = _working_set_df(spark, INITIAL_EMBEDDING)
    out = iteration_computation(
        1, 0.5, ws, p, metric="sqeuclidean", learning_rate=300,
        theta=0.0, n_components=2, iter_offset=0,
    )
    _assert_vectors(
        [(r["id"], r["y"]) for r in out.select("id", "y").collect()],
        UPDATED_AND_CENTERED_EMBEDDING_RESULTS,
        1e-9,
    )


def test_init_working_set(spark):
    pts = spark.createDataFrame([(i,) for i in range(10)], "id int")
    rows = init_working_set(pts, 2, random_state=0).collect()
    assert len(rows) == 10
    for r in rows:
        assert list(r["grad"]) == [0.0, 0.0]
        assert list(r["gains"]) == [1.0, 1.0]
        assert all(abs(c) < 1e-2 for c in r["y"])  # N(0, 1e-4) scale


def test_loss_decreases(spark):
    """Property test: KL loss non-increasing over late iterations."""
    p = coo_from_rows(spark, DENSE_JOINT_PROBABILITIES)
    ws = _working_set_df(spark, INITIAL_EMBEDDING)
    sink = []
    iteration_computation(
        20, 0.5, ws, p, learning_rate=100, theta=0.0, n_components=2,
        iter_offset=0, loss_sink=sink,
    )
    assert len(sink) == 2  # iterations 10, 20
    losses = [loss for _, loss in sorted(sink)]
    assert losses[-1] <= losses[0]


def test_tree_build_validation(spark):
    """Unknown tree_build strings error instead of silently picking a
    repulsion source (the CLI is choice-restricted; the API is not)."""
    import pytest

    from tests.fixtures import repulsive_barnes_hut

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])], "id int, y array<double>"
    )
    with pytest.raises(ValueError, match="tree_build"):
        repulsive_barnes_hut(emb, theta=0.5, n_components=2, tree_build="drivers")


def test_row_without_p_keeps_zero_attraction(spark):
    """An embedding id with no P row is kept, with zero attraction: its
    gradient is the pure repulsion -rep/sumQ, and the loop keeps its row."""
    from tests.fixtures import repulsive_barnes_hut

    p = coo_from_rows(
        spark, [r for r in DENSE_JOINT_PROBABILITIES if 3 not in (r[0], r[1])]
    )
    y = _embedding_df(spark, INITIAL_EMBEDDING)
    grad, _ = gradient(p, y, theta=0.0, n_components=2)
    dy = {r["id"]: np.array(r["dy"]) for r in grad.collect()}
    assert sorted(dy) == sorted(i for i, _ in INITIAL_EMBEDDING)

    rep, _ = repulsive_barnes_hut(y, 1e-300, 2)
    rows = {r["id"]: (np.array(r["rep"]), r["sumq"]) for r in rep.collect()}
    sum_q = sum(s for _, s in rows.values())
    assert np.allclose(dy[3], -rows[3][0] / sum_q, rtol=1e-12, atol=0)

    ws = _working_set_df(spark, INITIAL_EMBEDDING)
    out = iteration_computation(2, 0.5, ws, p, learning_rate=300, theta=0.0)
    assert sorted(r["id"] for r in out.collect()) == sorted(dy)


def _replay(y0, edges, metric, iterations, theta, condition, learning_rate,
            momentum):
    """NumPy replay of ``iteration_computation`` from y0: per step the
    engine's tree for repulsion, attraction over the P edges with q from
    the kNN metric, the momentum/gain update, and centring after each
    update.  Returns (y, {iteration: KL loss by the direct formula})."""
    from tsne_flink_spark.operators.ndtree import build_ndtree

    pi, pj, v = edges
    y = y0.copy()
    grad = np.zeros_like(y)
    gains = np.ones_like(y)
    losses = {}
    for it in range(1, iterations + 1):
        forces, sumq = build_ndtree(y).repulsive_forces(
            y, theta, condition=condition
        )
        yi, yj = y[pi], y[pj]
        if metric == "euclidean":
            dist = np.sqrt(((yi - yj) ** 2).sum(axis=1))
        else:
            dist = 1.0 - (yi * yj).sum(axis=1) / (
                np.linalg.norm(yi, axis=1) * np.linalg.norm(yj, axis=1)
            )
        q = 1.0 / (1.0 + dist)
        attr = np.zeros_like(y)
        np.add.at(attr, pi, (v * q)[:, None] * (yi - yj))
        z = sumq.sum()
        if it % 10 == 0:
            losses[it] = float((v * np.log(v / (q / z))).sum())
        dy = attr - forces / z
        same = (dy > 0) == (grad > 0)
        gains = np.maximum(np.where(same, gains * 0.8, gains + 0.2), 0.01)
        grad = momentum * grad - learning_rate * gains * dy
        y = y + grad
        y = y - y.mean(axis=0)
    return y, losses


def _replay_case(spark):
    """A random 2-D working set (3 partitions) and a k=6 P whose last id
    has no P row: (y0, (pi, pj, v), p, ws)."""
    rng = np.random.default_rng(42)
    n, k = 120, 6
    y0 = rng.normal(0.0, 1.0, (n, 2))
    pi = np.repeat(np.arange(n - 1), k)  # the last id has no P row
    pj = np.array([rng.choice(np.delete(np.arange(n), i), k, replace=False)
                   for i in range(n - 1)]).ravel()
    v = rng.uniform(0.1, 1.0, len(pi))
    v /= v.sum()
    p = coo_from_rows(
        spark, [(int(a), int(b), float(c)) for a, b, c in zip(pi, pj, v)]
    )
    ws = spark.createDataFrame(
        [(i, y0[i].tolist(), [0.0, 0.0], [1.0, 1.0]) for i in range(n)],
        WORKING_SET,
    ).repartition(3)
    return y0, (pi, pj, v), p, ws


def _fit_vs_replay(spark, metric, tree_build):
    y0, edges, p, ws = _replay_case(spark)
    sink = []
    out = iteration_computation(
        10, 0.5, ws, p, metric=metric, learning_rate=50.0, theta=0.5,
        n_components=2, loss_sink=sink, bh_condition="scaled",
        tree_build=tree_build,
    )
    got = {r["id"]: np.array(r["y"]) for r in out.collect()}
    n = len(y0)
    assert sorted(got) == list(range(n))
    y_ref, losses = _replay(y0, edges, metric, 10, 0.5, "scaled", 50.0, 0.5)
    y = np.array([got[i] for i in range(n)])
    assert np.abs(y - y_ref).max() <= 1e-9 * np.abs(y_ref).max()
    assert [it for it, _ in sink] == [10]
    return sink[0][1], losses[10]


@pytest.mark.parametrize("metric", ["euclidean", "cosine"])
def test_fused_loop_matches_numpy_replay(spark, metric):
    """Ten fused iterations (the 10th computes the loss) against the NumPy
    replay: embedding within 1e-9, and the loss from the kernel's partials
    (sum v*log(v/q) + sum v*log sumQ) within 1e-12 of the direct KL."""
    loss, want = _fit_vs_replay(spark, metric, "auto")
    assert loss == pytest.approx(want, rel=1e-12, abs=0)


@contextmanager
def _one_shuffle_partition(spark):
    """Every shuffle in one partition, so the summary pass's joins keep a
    one-partition, id-ordered input in one task and in id order, as the
    driver path reads it: the kernel's partials then sum in the same
    order."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _attr_and_kl(rows, d, metric, tree_build):
    """One fused pass: ({id: attr}, (sum v*log(v/q), sum v) partials)."""
    from tsne_flink_spark.operators.gradient import fused_pass

    kern, used, partials = fused_pass(
        rows, 0.5, d, metric, bh_condition="scaled", tree_build=tree_build
    )
    assert used == (tree_build == "summary")
    attr = {r["id"]: r["attr"] for r in materialize(kern).collect()}
    return attr, partials.totals()[1:]


def test_executor_regimes_keep_y_off_driver(spark, monkeypatch):
    """The summary regime never collects Y on the driver: with the collect
    disabled and the plan forced at N=120, a 10-iteration fit runs every
    pass on the summary path (neighbour coordinates from the P-edge
    gather, the mean from a bounds aggregate) and ends with every row,
    centred.  The large-N loop guard is
    tests/test_farfield.py::test_summary_mode_full_optimize_loop."""
    from tsne_flink_spark.operators import farfield
    from tsne_flink_spark.operators import gradient as G

    y0, _, p, ws = _replay_case(spark)
    passes = []
    summary_repulsion = G._summary_repulsion

    def counting(*args):
        got = summary_repulsion(*args)
        passes.append(got is not None)
        return got

    def no_collect(*args, **kwargs):
        raise AssertionError("Y collected on the driver")

    monkeypatch.setattr(farfield, "MIN_SUMMARY_N", 0)
    monkeypatch.setattr(G, "_summary_repulsion", counting)
    monkeypatch.setattr(G, "collect_y", no_collect)
    sink = []
    out = iteration_computation(
        10, 0.5, ws, p, metric="cosine", learning_rate=50.0, theta=0.5,
        n_components=2, loss_sink=sink, bh_condition="scaled",
        tree_build="summary",
    ).collect()
    assert passes == [True] * 10
    assert sorted(r["id"] for r in out) == list(range(len(y0)))
    y = np.array([r["y"] for r in out])
    assert np.isfinite(y).all() and np.abs(y.mean(axis=0)).max() < 1e-9
    assert [it for it, _ in sink] == [10] and np.isfinite(sink[0][1])


@pytest.mark.parametrize("d, metric", [(2, "cosine"), (3, "euclidean")])
def test_gathered_attraction_matches_broadcast(spark, monkeypatch, d, metric):
    """The attraction the summary regime gathers by a P-edge join equals
    the driver build's broadcast-Y lookup bit for bit — the kernel's attr
    column and its sum v*log(v/q) and sum v partials — with the summary
    plan forced at N=200: the same neighbours in the same order, including
    a row without P and a P entry whose j is not a row."""
    from tsne_flink_spark.operators import farfield
    from tsne_flink_spark.operators.gradient import attach_p

    rng = np.random.default_rng(5)
    n = 200
    Y = rng.normal(0.0, 5.0, (n, d))
    emb = spark.createDataFrame(
        [(i, Y[i].tolist()) for i in range(n)], "id int, y array<double>"
    )
    edges = [
        (i, int(j), float(rng.uniform(0.1, 1.0)))
        for i in range(n - 1)
        for j in rng.choice(np.delete(np.arange(n), i), 4, replace=False)
    ]
    edges.append((0, n + 7, 0.5))  # a neighbour that is not a row
    p = coo_from_rows(spark, edges)
    monkeypatch.setattr(farfield, "MIN_SUMMARY_N", 0)
    with _one_shuffle_partition(spark):
        rows = materialize(
            attach_p(emb, p).repartition(1).sortWithinPartitions("id")
        )
        want_attr, want_kl = _attr_and_kl(rows, d, metric, "driver")
        attr, kl = _attr_and_kl(rows, d, metric, "summary")
    assert sorted(attr) == list(range(n))
    assert want_attr[n - 1] == [0.0] * d  # the row without P
    assert attr == want_attr
    assert kl == want_kl


def test_loop_jobs_per_iteration(spark):
    """Regression guard that host noise cannot move: the driver-build loop
    runs at most 1 Spark job per iteration, the kernel (counted from the
    job group of a fit at 2 vs 8 iterations, so per-fit set-up cancels);
    sumQ and the loss ride the kernel's job, and Y, grad and gains stay on
    the driver."""
    from tsne_flink_spark.operators.optimize import optimize

    rng = np.random.default_rng(9)
    n = 300
    X = rng.normal(0, 1.0, (n, 8))
    pts = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "id int, features array<double>"
    )
    P = materialize(joint_distribution(pairwise_affinities(
        partition_knn(pts, 10, "sqeuclidean"), 5.0)))
    ws = materialize(init_working_set(pts.select("id"), 2, random_state=0))
    sc = spark.sparkContext
    jobs = {}
    try:
        for iterations in (2, 8):
            group = f"jobs-per-iteration-{iterations}"
            sc.setJobGroup(group, group)
            optimize(P, ws, iterations=iterations, theta=0.5,
                     bh_condition="scaled").collect()
            jobs[iterations] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    per_iteration = (jobs[8] - jobs[2]) / 6
    assert per_iteration <= 1, jobs


def _points(spark, n=300, d=8, seed=9):
    X = np.random.default_rng(seed).normal(0, 1.0, (n, d))
    return spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "id int, features array<double>"
    )


def test_fit_reaches_first_iteration_in_six_jobs(spark, monkeypatch):
    """Counter guard: from fit's start to the collect of the loop's state,
    at most 6 Spark jobs (kNN blocks, the fused P kernel and its one
    exchange, the working-set join, the P rows' checkpoint) — no job only
    to aggregate P's total or N; a 2-iteration fit stays within 9 (the
    state collect and one kernel per iteration), and collecting the
    embedding it returns runs no job."""
    from tsne_flink_spark.operators import gradient as G
    from tsne_flink_spark.tsne import TSNE

    pts = _points(spark)
    sc = spark.sparkContext
    group = "fit-to-first-iteration"
    seen = []
    collect_y = G.collect_y

    def counting(*args):
        seen.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return collect_y(*args)

    monkeypatch.setattr(G, "collect_y", counting)
    model = TSNE(perplexity=5.0, neighbors=10, iterations=2, theta=0.5,
                 bh_condition="scaled", knn_method="partition")
    try:
        sc.setJobGroup(group, group)
        out = model.fit(points=pts)
        fit_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        rows = out.collect()
        total = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 300
    assert seen[0] <= 6, seen
    assert fit_jobs <= 9, fit_jobs
    assert total == fit_jobs, (fit_jobs, total)


@pytest.mark.parametrize("knn_method", ["partition", "bruteforce"])
def test_fused_p_rows_match_joint_distribution(spark, knn_method):
    """The rows fit attaches from the kernels' symmetric edges equal
    attach_p over joint_distribution: js identical, vs divided by the
    partials' total within 1e-14 relative (the two totals sum ~3000 terms
    in different orders); the partials' total is within 1e-15 of the exact
    sum."""
    import math

    from tsne_flink_spark.operators.gradient import attach_p
    from tsne_flink_spark.tsne import TSNE

    pts = _points(spark, n=150)
    model = TSNE(perplexity=5.0, neighbors=10, knn_method=knn_method)
    ws = materialize(init_working_set(pts.select("id"), 2, random_state=0))
    edges, partials = model._p_edges(pts, None)
    fused = {r["id"]: r for r in attach_p(ws, edges).collect()}
    total, n = partials.totals()
    assert n == 150
    knn = (partition_knn(pts, 10) if knn_method == "partition"
           else k_nearest_neighbors(pts, 10))
    p_cond = materialize(pairwise_affinities(knn, 5.0))
    exact = 2.0 * math.fsum(r["v"] for r in p_cond.collect())
    assert abs(total - exact) <= 1e-15 * exact, (total, exact)
    ref = {r["id"]: r for r in attach_p(ws, joint_distribution(p_cond)).collect()}
    assert sorted(fused) == sorted(ref) == list(range(150))
    for i, r in ref.items():
        assert fused[i]["js"] == r["js"]
        np.testing.assert_allclose(
            np.array(fused[i]["vs"]) / total, r["vs"], rtol=1e-14, atol=0)


@pytest.mark.parametrize("momentum", [0.5, 0.8])
def test_update_arrays_matches_update_step(spark, momentum):
    """The driver loop's NumPy update equals the Spark projection byte for
    byte, on rows with the sign test's ties (dy or the previous gradient
    zero, or -0.0) and gains that the floor clamps."""
    from tsne_flink_spark.operators.embedding import update_arrays, update_step
    from tsne_flink_spark.operators.optimize import MIN_GAIN

    rng = np.random.default_rng(17)
    n, d = 400, 3
    y = rng.normal(0.0, 1.0, (n, d))
    grad = rng.normal(0.0, 1e-2, (n, d))
    gains = rng.uniform(0.005, 3.0, (n, d))
    dy = rng.normal(0.0, 1e-3, (n, d))
    dy[::5] = 0.0
    grad[::7] = 0.0
    dy[1::11] = -0.0
    gains[::3] = MIN_GAIN
    df = spark.createDataFrame(
        [(i, y[i].tolist(), grad[i].tolist(), gains[i].tolist(), dy[i].tolist())
         for i in range(n)],
        "id int, y array<double>, grad array<double>, gains array<double>, "
        "dy array<double>",
    )
    step = update_step(F.col("dy"), ["id"], MIN_GAIN, momentum, 1000.0)
    rows = sorted(step(df).collect(), key=lambda r: r["id"])
    want = update_arrays(y, grad, gains, dy, MIN_GAIN, momentum, 1000.0)
    assert (want[2] == MIN_GAIN).any()
    for col, w in zip(("y", "grad", "gains"), want):
        got = np.array([r[col] for r in rows], dtype=np.float64)
        assert got.tobytes() == w.tobytes(), col


def test_stepwise_iterations_match_one_call(spark):
    """Three one-iteration calls, each fed the frame the last returned,
    equal one three-iteration call bit for bit (y, grad and gains): the
    returned frame carries the driver's state exactly, and the closing
    centring is the loop's own.  sumQ's partial sums follow the P rows'
    layout, which ``attach_p`` takes from the working set's, so every call
    starts from a local frame with rows by id: the layout a call returns."""
    y0, _, p, _ = _replay_case(spark)
    ws = spark.createDataFrame(
        [(i, y.tolist(), [0.0, 0.0], [1.0, 1.0]) for i, y in enumerate(y0)],
        WORKING_SET,
    )
    kw = dict(metric="euclidean", learning_rate=50.0, theta=0.5,
              n_components=2, bh_condition="scaled")
    want = iteration_computation(3, 0.5, ws, p, **kw).collect()
    out = ws
    for it in range(3):
        out = iteration_computation(1, 0.5, out, p, iter_offset=it, **kw)
    got = {r["id"]: r for r in out.collect()}
    assert sorted(got) == sorted(r["id"] for r in want)
    for r in want:
        for col in ("y", "grad", "gains"):
            assert got[r["id"]][col] == r[col], (r["id"], col)


def test_eval_tree_chunks_every_theta(monkeypatch):
    """The reference condition on a compressed (1e-4-scale) embedding
    summarizes nothing at theta 0.5, as theta 0 does, so its frontier would
    be (queries x points): the kernel's evaluation is chunked at every
    theta, no call sees more than ``_EXACT_EVAL_PAIRS // n`` queries, and
    the result equals one unchunked call bit for bit."""
    from tsne_flink_spark.operators import gradient as G
    from tsne_flink_spark.operators.ndtree import build_ndtree

    n = 500
    Y = np.random.default_rng(21).normal(0.0, 1e-4, (n, 2))
    tree = build_ndtree(Y)
    want = tree.repulsive_forces(Y, 0.5, condition="reference")
    monkeypatch.setattr(G, "_EXACT_EVAL_PAIRS", 64 * n)
    sizes = []

    class Counting:
        def repulsive_forces(self, Q, theta, condition):
            sizes.append(len(Q))
            return tree.repulsive_forces(Q, theta, condition=condition)

    got = G._eval_tree(Counting(), Y, 0.5, "reference", n)
    assert max(sizes) <= 64 and sum(sizes) == n
    for g, w in zip(got, want):
        assert g.tobytes() == w.tobytes()
