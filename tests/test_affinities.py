"""Affinity + joint-distribution golden tests —
mirrors TsneHelpersTestSuite.scala:76-137."""

import os

import pytest

from tests.fixtures import (
    DENSE_INPUT_CSV,
    DENSE_JOINT_PROBABILITIES,
    DENSE_PAIRWISE_AFFINITIES,
    SPARSE_JOINT_PROBABILITIES,
    SPARSE_PAIRWISE_AFFINITIES,
)
from tsne_flink_spark.operators.affinities import (
    joint_distribution,
    pairwise_affinities,
)
from tsne_flink_spark.operators.knn import k_nearest_neighbors
from tsne_flink_spark.sources.readers import coo_from_rows, read_points


@pytest.mark.skipif(
    not os.path.exists(DENSE_INPUT_CSV), reason="reference fixture not present"
)
def test_pairwise_affinities_dense_goldens(spark):
    points = read_points(spark, DENSE_INPUT_CSV, 28 * 28)
    knn = k_nearest_neighbors(points, 10, "sqeuclidean")
    result = {(r["i"], r["j"]): r["v"] for r in pairwise_affinities(knn, 2.0).collect()}
    assert len(result) == len(DENSE_PAIRWISE_AFFINITIES)
    for i, j, expected in DENSE_PAIRWISE_AFFINITIES:
        assert result[(i, j)] == pytest.approx(expected, abs=1e-12)


def test_joint_distribution_dense_goldens(spark):
    affinities = coo_from_rows(spark, DENSE_PAIRWISE_AFFINITIES)
    result = {(r["i"], r["j"]): r["v"] for r in joint_distribution(affinities).collect()}
    assert len(result) == len(DENSE_JOINT_PROBABILITIES)
    for i, j, expected in DENSE_JOINT_PROBABILITIES:
        assert result[(i, j)] == pytest.approx(expected, abs=1e-12)
    assert sum(result.values()) == pytest.approx(1.0, abs=1e-12)


def test_joint_distribution_sparse_goldens(spark):
    affinities = coo_from_rows(spark, SPARSE_PAIRWISE_AFFINITIES)
    result = {(r["i"], r["j"]): r["v"] for r in joint_distribution(affinities).collect()}
    assert len(result) == len(SPARSE_JOINT_PROBABILITIES)
    for i, j, expected in SPARSE_JOINT_PROBABILITIES:
        assert result[(i, j)] == pytest.approx(expected, abs=1e-6)
    assert sum(result.values()) == pytest.approx(1.0, abs=1e-12)


@pytest.mark.skipif(
    not os.path.exists(DENSE_INPUT_CSV), reason="reference fixture not present"
)
def test_affinity_rows_sum_to_one(spark):
    """Property the reference never asserts: each P(.|i) row sums to 1."""
    points = read_points(spark, DENSE_INPUT_CSV, 28 * 28)
    knn = k_nearest_neighbors(points, 10, "sqeuclidean")
    rows = pairwise_affinities(knn, 2.0).groupBy("i").sum("v").collect()
    for r in rows:
        assert r["sum(v)"] == pytest.approx(1.0, abs=1e-9)


def _uniform_points(spark, n=80, d=4, seed=4):
    import numpy as np

    from tsne_flink_spark.sources.readers import points_from_rows

    X = np.random.default_rng(seed).uniform(0, 1, (n, d))
    return points_from_rows(spark, [(i, X[i].tolist()) for i in range(n)])


def test_joint_distribution_runs_the_bisection_once(spark):
    """Both directions come from one projection, so the executed plan of
    joint_distribution over pairwise_affinities holds one Python stage
    (the transpose union used to plan the bisection under each branch)."""
    knn = k_nearest_neighbors(_uniform_points(spark), 5)
    joint = joint_distribution(pairwise_affinities(knn, 3.0))
    rows = joint.collect()
    assert sum(r["v"] for r in rows) == pytest.approx(1.0, abs=1e-12)
    plan = joint._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, plan


@pytest.mark.parametrize("kernel", ["pairwise", "partition"])
def test_p_partials_unchanged_by_a_rerun(spark, kernel):
    """A P kernel that runs again (two actions over the unmaterialized
    edges) overwrites its partitions' partials instead of adding twice."""
    from tsne_flink_spark.operators.knn import partition_knn
    from tsne_flink_spark.operators.partials import Partials

    pts = _uniform_points(spark)
    partials = Partials(spark.sparkContext, 2)
    if kernel == "pairwise":
        edges = pairwise_affinities(k_nearest_neighbors(pts, 5), 3.0, partials)
    else:
        edges = partition_knn(pts, 5, blocks=3, perplexity=3.0, partials=partials)
    rows = edges.collect()
    first = partials.totals()
    assert first[1] == 80
    assert first[0] == pytest.approx(sum(r["v"] for r in rows), rel=1e-14)
    assert edges.count() == len(rows) == 2 * 80 * 5
    assert partials.totals() == first
