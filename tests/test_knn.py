"""kNN operator tests — mirrors TsneHelpersTestSuite.scala:29-74."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.fixtures import KNN_INPUT, KNN_RESULTS
from tsne_flink_spark.operators.knn import (
    k_nearest_neighbors,
    partition_knn,
    project_knn,
)
from tsne_flink_spark.sources.readers import coo_from_rows, points_from_rows


@pytest.fixture(scope="module")
def knn_points(spark):
    return points_from_rows(spark, KNN_INPUT)


def test_k_nearest_neighbors(spark, knn_points):
    result = {
        (r["i"], r["j"], r["v"])
        for r in k_nearest_neighbors(knn_points, 2, "sqeuclidean").collect()
    }
    assert result == set(KNN_RESULTS)


def test_partition_knn_equals_bruteforce(spark, knn_points):
    result = {
        (r["i"], r["j"], r["v"])
        for r in partition_knn(knn_points, 2, "sqeuclidean", blocks=3).collect()
    }
    assert result == set(KNN_RESULTS)


@pytest.mark.parametrize(
    "metric, d, blocks, coincident",
    [
        pytest.param("sqeuclidean", 16, 4, False, id="sqeuclidean-d16"),
        pytest.param("sqeuclidean", 9, 4, True, id="sqeuclidean-d9-coincident"),
        # above _UNROLL_MAX_DIM the Column side is the flat HOF fold
        pytest.param("euclidean", 300, 4, False, id="euclidean-d300"),
        pytest.param("cosine", 16, 4, False, id="cosine-d16"),
        pytest.param("sqeuclidean", 16, 7, False, id="sqeuclidean-d16-blocks7"),
    ],
)
def test_partition_knn_matches_bruteforce_larger(spark, metric, d, blocks, coincident):
    import numpy as np

    rng = np.random.default_rng(42)
    X = rng.uniform(0, 1, (120, d))
    if coincident:
        X[10:16] = X[9]  # 7 coincident points: ties at the k-th distance (Q6)
    df = points_from_rows(spark, [(i, X[i].tolist()) for i in range(120)])
    brute = {
        (r["i"], r["j"], r["v"])
        for r in k_nearest_neighbors(df, 5, metric).collect()
    }
    blocked = {
        (r["i"], r["j"], r["v"])
        for r in partition_knn(df, 5, metric, blocks=blocks).collect()
    }
    assert blocked == brute  # bit-for-bit, including distances


def test_partition_knn_one_block_per_task_no_window(spark):
    """Counter guard that host noise cannot move: no Window in the plan,
    one output partition per block, and each block's points computed in a
    partition of their own (a single Python task owns a block and merges
    its top-k over all blocks)."""
    import numpy as np

    rng = np.random.default_rng(3)
    blocks = 5
    df = points_from_rows(
        spark, [(i, rng.normal(0, 1, 4).tolist()) for i in range(60)]
    )
    out = partition_knn(df, 3, blocks=blocks)
    assert "Window" not in out._jdf.queryExecution().executedPlan().toString()
    assert out.rdd.getNumPartitions() == blocks
    placed = (
        out.select(F.spark_partition_id().alias("p"), F.pmod("i", F.lit(blocks)).alias("b"))
        .distinct()
        .collect()
    )
    assert len(placed) == blocks
    assert len({r["p"] for r in placed}) == len({r["b"] for r in placed}) == blocks


def test_partition_knn_rejects_non_finite_features(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    X = rng.normal(0, 1, (40, 3))
    X[17, 1] = np.nan
    df = points_from_rows(spark, [(i, X[i].tolist()) for i in range(40)])
    with pytest.raises(Exception, match="point id 17 has a non-finite feature"):
        partition_knn(df, 5, blocks=4).collect()


def test_project_knn_recall(spark):
    """The reference's own projectKnn test is commented out (nondeterministic);
    we gate on recall vs exact instead."""
    import numpy as np

    rng = np.random.default_rng(7)
    pts = [(i, rng.normal(0, 1, 4).tolist()) for i in range(100)]
    df = points_from_rows(spark, pts)
    k = 5
    exact = {
        (r["i"], r["j"]) for r in k_nearest_neighbors(df, k).collect()
    }
    approx = {
        (r["i"], r["j"])
        for r in project_knn(df, k, iterations=4, seed=1).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall {recall:.2f} too low"


def test_project_knn_recall_pathological_clustering(spark):
    """Clustered-data hardening (VERDICT r4 #5): with ~all mass inside a
    tiny fraction of the coordinate range (a few extreme outliers stretch
    min/max), naive min-max quantization collapses the cluster into a
    handful of curve bins and rank-window recall dies.  The robust
    (mean +- 8 sigma) bounds must keep recall at the normal-data level."""
    import numpy as np

    rng = np.random.default_rng(31)
    n = 2000
    # dense cluster spanning ~1e-5 of the range; 8 outliers at +-50
    X = rng.normal(0.0, 1e-4, (n, 16))
    outliers = rng.choice(n, 8, replace=False)
    X[outliers] = rng.uniform(-50, 50, (8, 16))
    df = points_from_rows(spark, [(i, X[i].tolist()) for i in range(n)])
    k = 10
    exact = {(r["i"], r["j"]) for r in k_nearest_neighbors(df, k).collect()}
    approx = {
        (r["i"], r["j"])
        for r in project_knn(df, k, iterations=4, seed=1).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"pathological-clustering recall {recall:.2f}"


def test_curve_bits_schedule():
    from tsne_flink_spark.operators.knn import _curve_bits

    assert _curve_bits(0) == 16
    assert _curve_bits(100_000) == 19   # ceil(log2 1e5) + 2
    assert _curve_bits(10**12) == 21    # capped
    assert _curve_bits(16_384) == 16    # floor: small N keeps 16-bit keys


def test_robust_bounds_ignore_outliers(spark):
    import numpy as np

    from tsne_flink_spark.operators.knn import _feature_bounds

    rng = np.random.default_rng(5)
    X = rng.normal(0, 1e-3, (500, 3))
    X[0] = [1e6, -1e6, 1e6]
    df = points_from_rows(spark, [(i, X[i].tolist()) for i in range(500)])
    mins, maxs, n = _feature_bounds(df, 3)
    assert n == 500
    # bounds hug the cluster (mean +- 8 sigma of the WHOLE data, outlier
    # included in the moments but not allowed to own the range)
    assert (np.abs(mins) < 1e6 / 2).all() and (np.abs(maxs) < 1e6 / 2).all()
    # without clipping the raw min/max would be +-1e6
    mins_raw, maxs_raw, _ = _feature_bounds(df, 3, robust=False)
    assert (np.abs(mins_raw) == 1e6).any() or (np.abs(maxs_raw) == 1e6).any()


def test_project_knn_shape(spark, knn_points):
    out = project_knn(knn_points, 2, iterations=2, seed=0)
    rows = out.collect()
    # every point appears with <= k neighbors, no self-edges
    by_i = {}
    for r in rows:
        assert r["i"] != r["j"]
        by_i.setdefault(r["i"], []).append(r)
    assert set(by_i) == set(range(9))
    assert all(len(v) <= 2 for v in by_i.values())


def test_global_rank_density_and_determinism(spark):
    """_global_rank_by must produce DENSE 0..N-1 ranks (the silent failure
    mode at N=100k was non-dense ranks from re-sampled range boundaries) and
    must assign IDENTICAL ranks when the result is consumed from two plan
    branches — including for duplicate order keys, which only a total
    (order, tiebreak) sort makes deterministic across shuffle reads."""
    import numpy as np

    from tsne_flink_spark.operators.knn import _global_rank_by

    n = 20_000
    rng = np.random.default_rng(23)
    # heavy duplication: ~1000 distinct keys over 20k rows
    keys = rng.integers(0, 1000, n).astype("int64")
    df = spark.createDataFrame(
        [(int(i), int(k)) for i, k in enumerate(keys)], "id long, key long"
    ).repartition(32)
    ranked = _global_rank_by(df, "key", "id")

    rows = ranked.collect()
    got = sorted(r["__rank"] for r in rows)
    assert got == list(range(n))  # dense, 0-based, no gaps or dupes
    by_rank = {r["__rank"]: (r["key"], r["id"]) for r in rows}
    ordered = [by_rank[i] for i in range(n)]
    assert ordered == sorted(ordered)  # rank order == total (key, id) order

    # two independent consumptions (self-join on id) must agree on ranks
    a = ranked.select(F.col("id").alias("ia"), F.col("__rank").alias("ra"))
    b = ranked.select(F.col("id").alias("ib"), F.col("__rank").alias("rb"))
    mismatches = (
        a.join(b, F.col("ia") == F.col("ib"))
        .where(F.col("ra") != F.col("rb"))
        .count()
    )
    assert mismatches == 0


def test_hilbert_transform_properties():
    """The vectorized Skilling transform must be a bijection whose key order
    walks the grid through ADJACENT cells (the locality property Morton
    lacks and the reason project_knn defaults to curve='hilbert')."""
    import numpy as np

    from tsne_flink_spark.operators.knn import _axes_to_hilbert_transpose

    bits, d = 3, 2
    side = 1 << bits
    coords = np.array([(x, y) for x in range(side) for y in range(side)],
                      dtype=np.uint32)
    T = _axes_to_hilbert_transpose(coords, bits)
    # pack exactly as space_filling_key does: bit-planes msb-first, dim-major
    idx = np.zeros(len(coords), dtype=np.int64)
    for b in range(bits - 1, -1, -1):
        for dim in range(d):
            idx = (idx << 1) | ((T[:, dim] >> b) & 1)
    assert len(set(idx.tolist())) == side * side  # bijection
    order = np.argsort(idx)
    walk = coords[order].astype(np.int64)
    steps = np.abs(np.diff(walk, axis=0)).sum(axis=1)
    assert (steps == 1).all()  # every step is unit Manhattan: true Hilbert


def test_hilbert_transform_3d_bijection():
    import numpy as np

    from tsne_flink_spark.operators.knn import _axes_to_hilbert_transpose

    bits, d = 2, 3
    side = 1 << bits
    coords = np.array(
        [(x, y, z) for x in range(side) for y in range(side) for z in range(side)],
        dtype=np.uint32,
    )
    T = _axes_to_hilbert_transpose(coords, bits)
    idx = np.zeros(len(coords), dtype=np.int64)
    for b in range(bits - 1, -1, -1):
        for dim in range(d):
            idx = (idx << 1) | ((T[:, dim] >> b) & 1)
    assert len(set(idx.tolist())) == side ** 3
    order = np.argsort(idx)
    walk = coords[order].astype(np.int64)
    steps = np.abs(np.diff(walk, axis=0)).sum(axis=1)
    assert (steps == 1).all()


# ---------------------------------------------------------------------------
# partition_knn's NumPy helpers (no Spark)
# ---------------------------------------------------------------------------


def _chunked_fold(d, term):
    """The Column expressions' association, one whole term per dimension:
    left fold within chunks of 8, chunk sums added left to right; a flat
    left fold above 256 dimensions (the HOF ``aggregate`` fallback)."""
    csize = 8 if d <= 256 else d
    total = None
    for start in range(0, d, csize):
        acc = term(start).copy()
        for k in range(start + 1, min(start + csize, d)):
            acc += term(k)
        total = acc if total is None else total + acc
    return total


def _fold_reference(metric, A, B):
    """Distances folded by ``_chunked_fold`` over the last axis; A and B
    broadcast: (n,1,d) x (1,m,d) for all pairs, (n,d) x (n,d) row-paired."""
    import numpy as np

    d = A.shape[-1]
    if metric == "cosine":
        def norm(X):
            return np.sqrt(_chunked_fold(d, lambda k: X[..., k] * X[..., k]))

        dot = _chunked_fold(d, lambda k: A[..., k] * B[..., k])
        return 1.0 - dot / (norm(A) * norm(B))

    def term(k):
        t = A[..., k] - B[..., k]
        return t * t

    sq = _chunked_fold(d, term)
    return np.sqrt(sq) if metric == "euclidean" else sq


@pytest.mark.parametrize("metric", ["sqeuclidean", "euclidean", "cosine"])
@pytest.mark.parametrize("d", [1, 8, 9, 17, 32, 257])
def test_numpy_metric_folds_are_bit_identical(monkeypatch, metric, d):
    import numpy as np

    from tsne_flink_spark.functions import metrics

    rng = np.random.default_rng(d)
    fn = metrics.numpy_metric(metric)
    for n, m, tile in ((1, 1, None), (37, 53, None), (37, 53, 5 * 53 + 3)):
        if tile is not None:  # several row tiles, the last one partial
            monkeypatch.setattr(metrics, "_TILE_ELEMS", tile)
        A, B = rng.normal(size=(n, d)), rng.normal(size=(m, d))
        got, want = fn(A, B), _fold_reference(metric, A[:, None], B[None])
        assert got.shape == (n, m)
        assert got.tobytes() == want.tobytes()
    A, B = rng.normal(size=(41, d)), rng.normal(size=(41, d))
    got = metrics.numpy_row_metric(metric)(A, B)
    assert got.tobytes() == _fold_reference(metric, A, B).tobytes()


def _placed_blocks_batch(monkeypatch):
    """Hand-built kernel input: 30 points in 3 blocks, blocks 0 and 2
    placed in one task, row tiles of 4 rows.  Returns (X, the placed ids,
    the batch)."""
    import numpy as np
    import pyarrow as pa

    from tsne_flink_spark.operators import knn

    rng = np.random.default_rng(8)
    n, d, nb = 30, 3, 3
    X = rng.normal(size=(n, d))
    X[5] = X[8]  # a coincident pair stays neighbours
    ids = np.arange(n)
    blocks = {b: ids[ids % nb == b] for b in range(nb)}
    rows = [(a, b) for a in (0, 2) for b in range(nb)]
    batch = pa.RecordBatch.from_pydict({
        "block_a": [a for a, _ in rows],
        "block": [b for _, b in rows],
        "ids": [blocks[b].tolist() for _, b in rows],
        "mat": [X[blocks[b]].ravel().tolist() for _, b in rows],
    })
    monkeypatch.setattr(knn, "_BLOCK_TILE_ELEMS", 4 * n)
    return X, np.concatenate([blocks[0], blocks[2]]), batch


def _nearest(X, i, k):
    """Point i's k nearest (ids, squared distances) by brute force, ties
    by id."""
    import numpy as np

    D = ((X[i] - X) ** 2).sum(axis=1)
    D[i] = np.inf
    order = np.lexsort((np.arange(len(X)), D))[:k]
    return order, D[order]


def test_block_kernel_tiles_match_bruteforce(monkeypatch):
    """The block kernel on hand-built Arrow batches (two placed blocks in
    one task, several row tiles) against a NumPy brute force."""
    import numpy as np
    import pyarrow as pa

    from tsne_flink_spark.operators import knn

    X, placed, batch = _placed_blocks_batch(monkeypatch)
    k = 4
    out = pa.Table.from_batches(list(knn._block_kernel(k, "sqeuclidean")([batch])))
    got = set(zip(*(out.column(c).to_pylist() for c in "ijv")))

    want = set()
    for i in placed:
        nbrs, dist = _nearest(X, i, k)
        want |= {(int(i), int(j), float(v)) for j, v in zip(nbrs, dist)}
    assert {(i, j) for i, j, _ in got} == {(i, j) for i, j, _ in want}
    assert np.allclose(sorted(v for *_, v in got), sorted(v for *_, v in want))


def test_partition_knn_rejects_zero_norm_cosine(spark):
    """An all-zero feature vector has no cosine distance (0/0): the block
    kernel fails naming the point instead of silently dropping its edges."""
    import numpy as np

    rng = np.random.default_rng(12)
    X = rng.normal(0, 1, (40, 3))
    X[23] = 0.0
    df = points_from_rows(spark, [(i, X[i].tolist()) for i in range(40)])
    with pytest.raises(
        Exception,
        match=r'point id 23 has a zero-norm feature vector \(metric="cosine"\)',
    ):
        partition_knn(df, 5, "cosine", blocks=4).collect()
    # the other metrics have a distance for it
    assert partition_knn(df, 5, "sqeuclidean", blocks=4).count() == 40 * 5


_BAD_POINT = {
    "nan": ("sqeuclidean", np.nan, "point id 23 has a non-finite feature"),
    "zero_norm": (
        "cosine", 0.0,
        r'point id 23 has a zero-norm feature vector \(metric="cosine"\)',
    ),
}


@pytest.mark.parametrize("case", sorted(_BAD_POINT))
@pytest.mark.parametrize("entry", ["k_nearest_neighbors", "project_knn"])
def test_knn_entries_reject_bad_points(spark, entry, case):
    """Brute force and project_knn fail naming the point, as partition_knn
    does, instead of emitting NaN distances or losing its cosine edges."""
    metric, value, message = _BAD_POINT[case]
    rng = np.random.default_rng(13)
    X = rng.normal(0, 1, (40, 3))
    if case == "zero_norm":
        X[23] = value
    else:
        X[23, 1] = value
    df = points_from_rows(spark, [(i, X[i].tolist()) for i in range(40)])
    run = {"k_nearest_neighbors": k_nearest_neighbors, "project_knn": project_knn}[entry]
    with pytest.raises(Exception, match=f"{entry}: {message}"):
        run(df, 5, metric).collect()


@pytest.mark.parametrize("value", [np.nan, np.inf])
def test_fit_distances_rejects_non_finite(spark, value):
    from tsne_flink_spark.tsne import TSNE

    dist = coo_from_rows(spark, [
        (i, j, value if (i, j) == (5, 2) else abs(i - j))
        for i in range(12) for j in range(12) if i != j
    ])
    with pytest.raises(Exception, match="TSNE.fit: point id 5 has a non-finite distance"):
        TSNE(perplexity=3.0, iterations=2, random_state=0).fit(distances=dist).collect()


class _Partials:
    """Stands in for operators.partials.Partials outside a Spark task."""

    def __init__(self):
        self.added = []

    def add(self, *values):
        self.added.append(values)


def test_block_kernel_emits_symmetric_p(monkeypatch):
    """Given a perplexity, the block kernel (two placed blocks, several row
    tiles) emits every P(j|i) in both directions, bit-identical to the
    bisection of that point's own j-sorted k distances, and adds its
    normalizing total and point count once."""
    import numpy as np
    import pyarrow as pa

    from tsne_flink_spark.operators import knn
    from tsne_flink_spark.operators.affinities import _bisect_betas

    X, placed, batch = _placed_blocks_batch(monkeypatch)
    k, perplexity = 4, 2.0
    partials = _Partials()
    out = pa.Table.from_batches(list(
        knn._block_kernel(k, "sqeuclidean", perplexity, partials)([batch])
    ))
    got = list(zip(*(out.column(c).to_pylist() for c in "ijv")))

    want = []
    for i in placed:
        nbrs, dist = _nearest(X, i, k)
        by_j = np.argsort(nbrs)  # the coincident pair gives a zero distance
        p = _bisect_betas(dist[by_j], np.array([0]), np.array([k]), np.log(perplexity))
        want += [(int(i), int(j), float(v)) for j, v in zip(nbrs[by_j], p)]
    assert sorted(got) == sorted(want + [(j, i, v) for i, j, v in want])
    forward = out.column("v").to_numpy()[:len(want)]
    assert partials.added == [(2.0 * float(np.sum(forward)), len(placed))]


@pytest.mark.parametrize(
    "metric, d, blocks, coincident",
    [
        pytest.param("sqeuclidean", 16, 4, False, id="sqeuclidean-d16"),
        pytest.param("sqeuclidean", 9, 4, True, id="sqeuclidean-d9-coincident"),
        pytest.param("euclidean", 300, 4, False, id="euclidean-d300"),
        pytest.param("cosine", 16, 4, False, id="cosine-d16"),
        pytest.param("sqeuclidean", 16, 7, False, id="sqeuclidean-d16-blocks7"),
    ],
)
def test_partition_knn_p_matches_pairwise_affinities(
    spark, metric, d, blocks, coincident
):
    """The block kernel's P(j|i) is bit-identical to pairwise_affinities
    over partition_knn's edges, emitted in both directions; its partials
    are the joint total and N."""
    import numpy as np

    from tsne_flink_spark.operators.affinities import pairwise_affinities
    from tsne_flink_spark.operators.partials import Partials

    rng = np.random.default_rng(42)
    X = rng.uniform(0, 1, (120, d))
    if coincident:
        X[10:16] = X[9]
    df = points_from_rows(spark, [(i, X[i].tolist()) for i in range(120)])
    want = [tuple(r) for r in pairwise_affinities(
        partition_knn(df, 5, metric, blocks=blocks), 3.0).collect()]
    partials = Partials(spark.sparkContext, 2)
    got = [tuple(r) for r in partition_knn(
        df, 5, metric, blocks=blocks, perplexity=3.0, partials=partials).collect()]
    assert sorted(got) == sorted(want + [(j, i, v) for i, j, v in want])
    total, n = partials.totals()
    assert n == 120
    assert total == pytest.approx(2.0 * sum(v for *_, v in want), rel=1e-14)
