"""k-nearest-neighbor front-ends.

Three variants, mirroring the reference's surface (SURVEY §2.3/§2.5):

- ``k_nearest_neighbors`` — brute force: crossJoin + Column-expression
  distance + per-group window top-k.  Reference: TsneHelpers.scala:41-59.
- ``partition_knn``       — blocked cross: points bucketed into B blocks,
  one Python task per block computes its numpy distances to every point and
  its top-k.  Exactly equal to brute force (blocked evaluation, not
  approximation).  Reference: TsneHelpers.scala:61-91.
- ``project_knn``         — approximate: Morton/z-order sort (original +
  randomly shifted copies), +-k rank-neighbors as candidates, true-distance
  top-k over the candidate union.  Reference: TsneHelpers.scala:93-160,
  ZOrder.scala:25-42.  Unlike the reference (whose z-order sort runs at
  parallelism 1), the Morton key here is a sortable BINARY column and the
  rank-neighborhood is a bucketed equi-join — fully parallel.

Scale notes (100 TB stance): brute force is O(N^2) by definition and exists
for parity + small N; ``partition_knn`` broadcasts all features (8·N·d bytes
per executor); ``project_knn`` is the scale path at O(I * N log N) shuffle
volume with no all-pairs stage.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsne_flink_spark.functions.metrics import checked_point, metric_expr, numpy_metric
from tsne_flink_spark.operators.affinities import conditional_p, symmetric_edges
from tsne_flink_spark.worker import skip_zip_rescan


def _top_k_per_group(edges: DataFrame, k: int) -> DataFrame:
    """Grouped top-k: the canonical Spark mapping of Flink's
    ``groupBy(i).sortGroup(dist).first(k)`` (TsneHelpers.scala:54-58).

    Ties are broken by neighbor id for determinism (the reference breaks them
    arbitrarily; its own test accepts either edge at equal distance).
    """
    w = Window.partitionBy("i").orderBy(F.col("v").asc(), F.col("j").asc())
    return (
        edges.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.lit(k))
        .drop("__rn")
    )


def k_nearest_neighbors(
    points: DataFrame, k: int, metric: str = "sqeuclidean", dim: int | None = None
) -> DataFrame:
    """Brute-force kNN: all-pairs distances, keep the k nearest per point.

    points: (id INT, features ARRAY<DOUBLE>) -> (i INT, j INT, v DOUBLE).
    Pass ``dim`` (or let it be probed from the first row) so the distance
    unrolls into a whole-stage-codegen expression — ~8x faster than the
    interpreted higher-order form on all-pairs workloads.  A non-finite
    feature, or with ``metric="cosine"`` an all-zero feature vector, fails
    the query with an error naming its point's id.
    """
    if dim is None:
        head = points.select("features").head()
        dim = len(head["features"]) if head else None
    # checked on both sides: a pair's distance reads both points' rows, so
    # whichever side Spark evaluates first fails before any distance
    checked = checked_point("k_nearest_neighbors", F.col("id"), F.col("features"), metric)
    a = points.select(F.col("id").alias("i"), checked.alias("__fa"))
    b = points.select(F.col("id").alias("j"), checked.alias("__fb"))
    edges = (
        a.crossJoin(b)
        # "remove distances == 0" in the reference actually filters on id
        # inequality, keeping coincident points (quirk Q6) — replicate.
        .where(F.col("i") != F.col("j"))
        .select(
            "i",
            "j",
            metric_expr(metric, F.col("__fa"), F.col("__fb"), dim=dim).alias("v"),
        )
    )
    return _top_k_per_group(edges, k)


# Distances a block task holds at a time: 2^22 doubles (32 MB).
_BLOCK_TILE_ELEMS = 1 << 22


def _block_kernel(k: int, metric: str, perplexity=None, partials=None):
    """``partition_knn``'s per-task kernel.  In: the task's placed block id
    crossed with every block.  Out: each placed point's k nearest (i, j, v)
    edges over all points, self-pairs excluded by id (quirk Q6: coincident
    points stay neighbours), non-finite distances dropped — or, given a
    ``perplexity``, their symmetric P(j|i) edges (see partition_knn)."""
    dist = numpy_metric(metric)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        skip_zip_rescan()
        placed, blocks = set(), {}
        for batch in batches:
            placed.update(batch.column("block_a").to_pylist())
            for r, b in enumerate(batch.column("block").to_pylist()):
                blocks[b] = [batch.column(c)[r].values.to_numpy(zero_copy_only=False)
                             for c in ("ids", "mat")]
        if not blocks:
            return
        ids = np.concatenate([i for i, _ in blocks.values()])
        lab = np.repeat(list(blocks), [len(i) for i, _ in blocks.values()])
        X = np.concatenate([x for _, x in blocks.values()]).reshape(len(ids), -1)
        order = np.argsort(ids, kind="stable")
        ids, lab, X = ids[order], lab[order], X[order].astype(np.float64, copy=False)
        bad = ~np.isfinite(X).all(axis=1)
        if bad.any():
            raise ValueError(
                f"partition_knn: point id {ids[bad][0]} has a non-finite feature"
            )
        if metric == "cosine" and not (X * X).any(axis=1).all():
            raise ValueError(
                f"partition_knn: point id {ids[~(X * X).any(axis=1)][0]} has a "
                f'zero-norm feature vector (metric="cosine")'
            )
        step = max(1, _BLOCK_TILE_ELEMS // len(ids))
        rows = np.flatnonzero(np.isin(lab, list(placed)))
        edges = []
        for r in (rows[s:s + step] for s in range(0, len(rows), step)):
            D, ia = dist(X[r], X), ids[r]
            D[ia[:, None] == ids[None, :]] = np.inf
            idx = np.argsort(D, axis=1, kind="stable")[:, :k]
            v = np.take_along_axis(D, idx, 1).ravel()
            keep = np.isfinite(v)
            i_rep = np.repeat(ia, idx.shape[1])
            edges.append((i_rep[keep], ids[idx].ravel()[keep], v[keep]))
        if not edges:
            return
        i, j, v = (np.concatenate(c) for c in zip(*edges))
        if perplexity is not None:
            i, j, v = conditional_p(i, j, v, float(np.log(perplexity)))
            partials.add(2.0 * float(v.sum()), len(rows))
            i, j, v = symmetric_edges(i, j, v)
        yield pa.RecordBatch.from_arrays(
            [pa.array(i, pa.int32()), pa.array(j, pa.int32()), pa.array(v)],
            names=["i", "j", "v"],
        )

    return run


def partition_knn(
    points: DataFrame, k: int, metric: str = "sqeuclidean", blocks: int | None = None,
    perplexity=None, partials=None,
) -> DataFrame:
    """Blocked-cross kNN, result identical to ``k_nearest_neighbors``.

    Points are bucketed by ``id % blocks`` (the reference's
    ModuloKeyPartitioner, TsneHelpers.scala:65-66); the JVM collects each
    block into one row of ids and flattened features.  Each block id sits
    alone in a partition of a ``range`` (no shuffle, nothing for AQE to
    coalesce), crossed with a broadcast of all blocks, so one Python task
    per block computes its distances to every point in the Column
    expressions' accumulation order (bit-identical to brute force) and
    merges the top-k over all blocks itself: no Window, no edge shuffle.

    Memory contract: the broadcast holds all features, 8·N·d bytes on the
    driver and on every executor (0.5 MB at N=2000, d=32), and a task
    ``_BLOCK_TILE_ELEMS`` distances at a time.  ``project_knn`` is the path
    for scale.  A non-finite feature, or with ``metric="cosine"`` an
    all-zero feature vector, fails the job with an error naming its point's
    id.  Given ``perplexity`` and ``partials``, the block task also bisects
    its points' distances and emits the symmetric P(j|i) edges, adding its
    share of P's total and its point count (``TSNE.fit``: points to P in
    one Python pass).
    """
    spark = points.sparkSession
    if blocks is None:
        blocks = spark.sparkContext.defaultParallelism
    all_blocks = points.groupBy(F.pmod("id", F.lit(blocks)).alias("block")).agg(
        F.collect_list("id").alias("ids"),
        F.flatten(F.collect_list("features")).alias("mat"),
    )
    placed = spark.range(0, blocks, 1, blocks).select(F.col("id").alias("block_a"))
    return placed.crossJoin(F.broadcast(all_blocks)).mapInArrow(
        _block_kernel(k, metric, perplexity, partials), "i int, j int, v double"
    )


# ---------------------------------------------------------------------------
# project_knn — z-order approximate kNN
# ---------------------------------------------------------------------------

_MORTON_BITS = 16  # base quantization bits per dimension
_MAX_CURVE_BITS = 21  # cap: 5-dim keys stay 14 bytes; uint32 transpose safe


def _curve_bits(n: int) -> int:
    """N-adaptive bits-per-dim for the space-filling key: ~sqrt-of-N cells
    per axis is far more than enough, so ceil(log2 N) + 2 (floor 16, cap 21)
    keeps clustered 100-TB-scale data from collapsing into few bins while
    leaving small-N keys byte-identical to the historical 16-bit layout."""
    import math

    return min(_MAX_CURVE_BITS, max(_MORTON_BITS, math.ceil(math.log2(max(n, 2))) + 2))


_BOUNDS_SAMPLE_PER_PART = 256


def _feature_bounds(
    points: DataFrame, dim: int, robust: bool = True
) -> tuple[np.ndarray, np.ndarray, int]:
    """Per-dimension quantization bounds and the row count.

    One partial row per partition via mapInPandas + a driver-side reduce —
    a 2*dim-wide agg would fall out of codegen into interpreted evaluation.

    With ``robust`` (default), min/max is clipped per dimension to
    ``[p1 - 2*spread, p99 + 2*spread]`` where p1/p99 are sampled 1st/99th
    percentiles and ``spread = p99 - p1``: for well-behaved data the widened
    band comfortably contains min/max (normal data: ~+-12 sigma vs max ~4-5
    sigma at any realistic N) so bounds are EXACTLY min/max, but a few
    extreme outliers can no longer stretch the range so far that the data
    mass quantizes into a handful of curve bins (the clustered-data recall
    collapse) — outliers saturate into the edge bin instead, and their true
    distances are still verified downstream.  The sample is the first
    ``_BOUNDS_SAMPLE_PER_PART`` rows of each partition — deterministic for
    a pinned input.
    """

    def partial(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        mn = np.full(dim, np.inf)
        mx = np.full(dim, -np.inf)
        sample: list[np.ndarray] = []
        sampled = 0
        cnt = 0
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["features"]]
            )
            mn = np.minimum(mn, X.min(axis=0))
            mx = np.maximum(mx, X.max(axis=0))
            if sampled < _BOUNDS_SAMPLE_PER_PART:
                take = X[: _BOUNDS_SAMPLE_PER_PART - sampled]
                sample.append(take)
                sampled += len(take)
            cnt += len(X)
        if cnt:
            yield pd.DataFrame(
                {"mn": [mn.tolist()], "mx": [mx.tolist()],
                 "sample": [np.concatenate(sample).ravel().tolist()],
                 "cnt": [cnt]}
            )

    rows = points.select("features").mapInPandas(
        partial,
        schema="mn array<double>, mx array<double>, "
               "sample array<double>, cnt long",
    ).collect()
    if not rows:
        return np.zeros(dim), np.ones(dim), 0
    mins = np.min([r["mn"] for r in rows], axis=0)
    maxs = np.max([r["mx"] for r in rows], axis=0)
    n = int(sum(r["cnt"] for r in rows))
    if robust and n > 1:
        pooled = np.concatenate(
            [np.asarray(r["sample"]).reshape(-1, dim) for r in rows]
        )
        p1, p99 = np.quantile(pooled, [0.01, 0.99], axis=0)
        spread = p99 - p1
        lo = np.maximum(mins, p1 - 2.0 * spread)
        hi = np.minimum(maxs, p99 + 2.0 * spread)
        ok = hi > lo
        mins = np.where(ok, lo, mins)
        maxs = np.where(ok, hi, maxs)
    return mins, maxs, n


def _axes_to_hilbert_transpose(q: np.ndarray, bits: int) -> np.ndarray:
    """Skilling's AxesToTranspose, vectorized over rows: map quantized
    coordinates (n, d) uint32 to the 'transpose' form of the Hilbert index,
    where bit-plane-interleaving the result (exactly the Morton packing)
    yields the Hilbert index msb-first.

    Public-domain algorithm from J. Skilling, "Programming the Hilbert
    curve", AIP Conf. Proc. 707 (2004); the scalar per-coordinate loop is
    replaced by numpy masks over all rows at once.
    """
    X = q.astype(np.uint32).copy()
    d = X.shape[1]
    M = np.uint32(1 << (bits - 1))
    # inverse undo excess work
    Q = M
    while Q > 1:
        P = np.uint32(Q - 1)
        for i in range(d):
            mask = (X[:, i] & Q) != 0
            t = (X[:, 0] ^ X[:, i]) & P
            X0_flip = X[:, 0] ^ P
            X0_swap = X[:, 0] ^ t
            Xi_swap = X[:, i] ^ t
            X[:, 0] = np.where(mask, X0_flip, X0_swap)
            if i != 0:
                X[:, i] = np.where(mask, X[:, i], Xi_swap)
        Q = np.uint32(Q >> 1)
    # Gray encode
    for i in range(1, d):
        X[:, i] ^= X[:, i - 1]
    t = np.zeros(len(X), dtype=np.uint32)
    Q = M
    while Q > 1:
        mask = (X[:, d - 1] & Q) != 0
        t = np.where(mask, t ^ np.uint32(Q - 1), t)
        Q = np.uint32(Q >> 1)
    X ^= t[:, None]
    return X


def space_filling_key(
    points: DataFrame,
    mins: np.ndarray,
    maxs: np.ndarray,
    curve: str = "morton",
    bits: int = _MORTON_BITS,
) -> DataFrame:
    """Append a sortable BINARY space-filling-curve key column ``__z``.

    Each dimension is min-max quantized to 16 bits; then either the raw
    coordinates (``curve="morton"``) or their Hilbert transpose
    (``curve="hilbert"``) have their bit-planes interleaved msb-first across
    dimensions (plane b of dim 0, plane b of dim 1, ...), yielding a
    d*16-bit big-endian byte string whose lexicographic order is the curve
    order.  Hilbert visits every cell through adjacent cells (no Morton
    boundary jumps), which measurably improves rank-window neighbor recall
    at the same cost (BASELINE.md B10).  The reference compares raw double
    bits pairwise (ZOrder.scala:25-42) inside a parallelism-1 sort; a
    materialized sortable key lets Spark range-partition the sort.
    """
    if curve not in ("morton", "hilbert"):
        raise ValueError(f"curve must be 'morton' or 'hilbert', got {curve!r}")
    if not (1 <= bits <= 32):
        raise ValueError(f"bits must be in [1, 32], got {bits}")
    mins_b = mins.astype(np.float64)
    span = np.maximum(maxs.astype(np.float64) - mins_b, 1e-300)

    def add_key(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["features"]])
            if X.size == 0:
                yield pdf.assign(__z=pd.Series([], dtype=object))
                continue
            n, d = X.shape
            # clip BEFORE the uint cast: robust bounds may leave outliers
            # outside [mins, maxs], and a negative float -> uint32 cast is UB
            scaled = np.clip(
                (X - mins_b) / span * ((1 << bits) - 1), 0, (1 << bits) - 1
            )
            q = scaled.astype(np.uint32)
            if curve == "hilbert":
                q = _axes_to_hilbert_transpose(q, bits)
            # bit planes [n, b, dim]: plane b (msb-first) of each dim
            planes = (
                (q[:, None, :] >> (np.arange(bits - 1, -1, -1)[None, :, None]))
                & 1
            ).astype(np.uint8)
            flat = planes.reshape(n, bits * d)  # msb plane first, dim-major
            pad = (-flat.shape[1]) % 8
            if pad:
                flat = np.concatenate(
                    [flat, np.zeros((n, pad), dtype=np.uint8)], axis=1
                )
            keys = np.packbits(flat, axis=1)
            pdf = pdf.copy()
            pdf["__z"] = [k.tobytes() for k in keys]
            yield pdf

    from pyspark.sql.types import BinaryType, StructField, StructType

    # note: StructType.add mutates in place — build a fresh copy instead
    schema = StructType(
        list(points.schema.fields) + [StructField("__z", BinaryType())]
    )
    return points.mapInPandas(add_key, schema=schema)


def morton_key(
    points: DataFrame, mins: np.ndarray, maxs: np.ndarray,
    bits: int = _MORTON_BITS,
) -> DataFrame:
    """Morton (z-order) key — reference-parity ordering (ZOrder.scala)."""
    return space_filling_key(points, mins, maxs, curve="morton", bits=bits)


def _global_rank_by(df: DataFrame, order_col, *tiebreak: str) -> DataFrame:
    """Distributed global rank by ``order_col`` (0-based, dense ordering),
    entirely JVM-side: one MATERIALIZED range-sorted shuffle, per-partition
    offsets (a #partitions-row driver collect), and
    ``monotonically_increasing_id``'s partition-local counter as the local
    rank — no window, no second exchange, no Python round-trip.

    Two details are load-bearing for CORRECTNESS, not style:

    - the range shuffle is pinned with ``materialize()`` (localCheckpoint):
      the range partitioner RE-SAMPLES its boundaries per evaluation, and an
      earlier version that read the exchange from two plan branches got
      inconsistent boundaries at N=100k — offsets no longer matched local
      ranks and ranks silently came out non-dense (observed max rank 108193
      for 100k rows), corrupting the +-window candidate set.  (A
      ``zipWithIndex`` formulation fixed that too, but paid a full-dataset
      Python (de)serialization round-trip per call — 3x per project_knn.)
      The checkpoint also pins the storage order, which makes the
      scan-order local index identical across the counts job, the final
      job, and every downstream plan branch.
    - ``tiebreak`` columns make the pre-checkpoint sort total, so the
      materialized order (hence every rank) is reproducible across
      re-runs, not just across branches of one run.

    ``order_col`` may be a column name or a Column sort expression (e.g.
    ``F.col("monetary").desc()``) — range partitioning keys equal values
    into one partition either way, so ties never straddle a boundary.
    """
    from tsne_flink_spark.operators.optimize import materialize

    order_expr = F.col(order_col) if isinstance(order_col, str) else order_col
    sdf = materialize(
        df.repartitionByRange(order_expr).sortWithinPartitions(
            order_expr, *tiebreak
        )
    )
    # monotonically_increasing_id = (partition_id << 33) | scan-order index;
    # over a checkpointed (storage-order-pinned) sorted partition the local
    # index IS the local rank — no window, no extra exchange
    mid = F.monotonically_increasing_id()
    pid = F.shiftright(mid, 33)
    local = mid.bitwiseAND(F.lit((1 << 33) - 1))
    counts = (
        sdf.groupBy(pid.alias("__pid"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    by_pid = {r["__pid"]: r["__c"] for r in counts}
    max_pid = max(by_pid, default=0)
    offsets, acc = [], 0
    for p in range(int(max_pid) + 1):  # empty partitions emit no count row
        offsets.append(acc)
        acc += by_pid.get(p, 0)
    off_lit = F.array(*[F.lit(int(o)).cast("long") for o in offsets])
    return sdf.withColumn(
        "__rank", (F.element_at(off_lit, (pid + 1).cast("int")) + local).cast("long")
    )


def ntile_from_rank(rank_col, n: int, tiles: int = 4):
    """Exact SQL ntile(tiles) from a 0-based total rank: the first
    ``n % tiles`` buckets take ``n // tiles + 1`` rows, the rest
    ``n // tiles`` — byte-identical to Spark's and DuckDB's NTILE over
    the same total order, but computable from a shuffle-parallel rank
    (``_global_rank_by``) instead of a single-partition global window.
    Pairs with that rank wherever an unpartitioned NTILE would
    otherwise serialize the plan (customer_rfm quartiles, the exact
    perplexity tertile split)."""
    q, rem = divmod(int(n), int(tiles))
    if q == 0:
        return (rank_col + 1).cast("long")
    head = rem * (q + 1)
    return (
        F.when(rank_col < head, F.floor(rank_col / (q + 1)) + 1)
        .otherwise(rem + F.floor((rank_col - head) / q) + 1)
        .cast("long")
    )


def _zorder_candidates(points: DataFrame, k: int, stub_rank: bool = False) -> DataFrame:
    """Candidate pairs: each point with its +-k neighbors in z-order rank.

    Parallel reformulation of findPossibleNeighbors
    (TsneHelpers.scala:136-160): rank by Morton key, then a bucketed
    equi-join (bucket size k+1; each row joins buckets {b-1, b, b+1})
    filtered to 1 <= |rank_a - rank_b| <= k.  Emits candidate (i, j) pairs.

    ``stub_rank`` substitutes a lazy placeholder rank (plan-only mode —
    the real rank materializes its range shuffle and collects partition
    counts at construction time, which plan dumping must not).
    """
    ranked = points.select("id", "__z")
    if stub_rank:
        ranked = ranked.withColumn(
            "__rank", F.monotonically_increasing_id()
        ).drop("__z")
    else:
        ranked = _global_rank_by(ranked, "__z", "id").drop("__z")

    bucket = (F.col("__rank") / F.lit(k + 1)).cast("long")
    a = ranked.select(
        F.col("id").alias("i"),
        F.col("__rank").alias("__ra"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("__bucket"),
    )
    b = ranked.select(
        F.col("id").alias("j"),
        F.col("__rank").alias("__rb"),
        (F.col("__rank") / F.lit(k + 1)).cast("long").alias("__bucket"),
    )
    return (
        a.join(b, "__bucket")
        .where(
            (F.abs(F.col("__ra") - F.col("__rb")) <= F.lit(k))
            & (F.col("__ra") != F.col("__rb"))
        )
        .select("i", "j")
    )


def _project(points: DataFrame, R: np.ndarray) -> DataFrame:
    """(id, features) -> (id, features @ R): one GEMM per Arrow batch."""
    Rmat = R.astype(np.float64)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["features"]])
            P = X @ Rmat
            yield pd.DataFrame(
                {"id": pdf["id"], "features": [r.tolist() for r in P]}
            )

    return points.select("id", "features").mapInPandas(
        kernel, schema="id int, features array<double>"
    )


def _run_passes(build, params: list, plan_stub: bool) -> list:
    """Construct the per-pass candidate sets, overlapping their eager work.

    Each projection pass pays 3-4 driver-blocking jobs at construction time
    (persist fill + bounds collect inside ``_feature_bounds``, the rank
    shuffle ``materialize()`` and the partition-counts collect inside
    ``_global_rank_by``) and the passes are fully independent — seeded
    params are drawn before dispatch, each pass's rank is internally
    deterministic (id tiebreaks), and the union is deduplicated downstream.
    Submitting them from a small thread pool (guide §2.6) lets pass B's
    jobs back-fill the cluster while pass A waits on its collects; result
    order (hence the returned list) is preserved by ``pool.map``, so the
    output is bit-identical to the sequential loop.  Plan-stub mode runs
    no jobs, and a single pass has nothing to overlap — both stay inline.
    """
    if plan_stub or len(params) <= 1:
        return [build(p) for p in params]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    wrap = (
        inheritable_thread_target(session) if session is not None
        else inheritable_thread_target
    )
    with ThreadPoolExecutor(max_workers=len(params)) as pool:
        return list(pool.map(wrap(build), params))


def project_knn(
    points: DataFrame,
    k: int,
    metric: str = "sqeuclidean",
    dimension: int | None = None,
    iterations: int = 4,
    seed: int = 0,
    proj_dims: int | None = None,
    window: int | None = None,
    curve: str = "hilbert",
    _plan_stub: bool = False,
) -> DataFrame:
    """Approximate kNN via space-filling-curve sorts over random low-dim
    projections.

    Per pass, features are projected through a seeded Gaussian matrix onto
    ``proj_dims`` dimensions (default min(dim, 5)) and curve-keyed
    (Hilbert by default — adjacent curve positions are always adjacent
    cells, unlike Morton's boundary jumps; measured +0.03-0.09 recall at
    the same candidate budget, B10); each point's +-``window`` rank
    neighbors (default max(2k, 256)) become candidates; passes union, then
    true-distance top-k.  The 4-pass/256-window defaults hit recall 0.853
    at N=100k, d=16, k=10 (B10) at ~25% extra cost at small N, where
    fixed overheads dominate.  Independent projections per pass give the passes
    independent failure modes — the reference's random SHIFTS of the
    full-dimensional curve (TsneHelpers.scala:103-160, unseeded — quirk Q4)
    leave the z-order's locality to decay with dimensionality (measured:
    recall 0.086 at N=100k, d=16, k=10 for shifted 16-dim curves vs 0.6+
    for projected 5-dim curves at the same candidate budget — see
    BASELINE.md B10).  For inputs already at or below ``proj_dims``
    dimensions, the original shifted-grid Morton construction is kept
    (reference parity, ZOrder.scala:25-42).  A non-finite feature, or with
    ``metric="cosine"`` an all-zero feature vector, fails the first job
    that reads it with an error naming its point's id.
    """
    spark = points.sparkSession
    points = points.select(
        "id", checked_point("project_knn", F.col("id"), F.col("features"), metric)
        .alias("features"),
    )
    if _plan_stub:
        # plan-only mode (TSNE.plan): no data probes, no bounds jobs, lazy
        # placeholder rank — the dumped plan stands in for the executed one
        # everywhere except the rank exchange (zipWithIndex is inherently
        # eager, so the true rank cannot appear in an unexecuted plan)
        if dimension is None:
            raise ValueError("plan-stub mode requires dimension")
    else:
        head = points.select("features").head()
        if head is None:  # empty input: no bounds, no neighbors to emit
            from tsne_flink_spark.schemas import COO

            return spark.createDataFrame([], COO)
        if dimension is None:
            dimension = len(head["features"])
    if proj_dims is None:
        proj_dims = min(dimension, 5)
    if window is None:
        window = max(2 * k, 256)

    rng = np.random.default_rng(seed)
    if dimension <= proj_dims:
        if _plan_stub:
            mins = np.zeros(dimension)
            maxs = np.ones(dimension)
            bits = _MORTON_BITS
        else:
            mins, maxs, n_rows = _feature_bounds(points, dimension)
            bits = _curve_bits(n_rows)
        span = maxs - mins
        shifts = [None] + [
            rng.uniform(0.0, 1.0, size=dimension) * span
            for _ in range(max(iterations - 1, 0))
        ]
        # The quantization grid must stay FIXED across shifted passes
        # (covering [mins, maxs + span]); re-anchoring the grid to each
        # shifted min would reproduce the identical z-order and make the
        # extra passes useless.  The reference gets this for free by
        # comparing raw double bits (anchored at absolute zero,
        # ZOrder.scala:25-42).
        grid_mins, grid_maxs = mins, maxs + span

        def _build_pass(shift) -> DataFrame:
            if shift is None:
                shifted = points
            else:
                arr = F.array(*[F.lit(float(x)) for x in shift])
                shifted = points.select(
                    "id",
                    F.zip_with("features", arr, lambda a, b: a + b).alias("features"),
                )
            keyed = morton_key(shifted, grid_mins, grid_maxs, bits=bits)
            return _zorder_candidates(keyed, window, stub_rank=_plan_stub)

        candidate_sets = _run_passes(_build_pass, shifts, _plan_stub)
    else:
        from pyspark.storagelevel import StorageLevel

        # all projection matrices drawn up front so the per-pass builds are
        # order-independent (same draws as the former in-loop sequence)
        Rs = [
            rng.normal(size=(dimension, proj_dims))
            for _ in range(max(iterations, 1))
        ]

        def _build_pass(R: np.ndarray) -> DataFrame:
            projected = _project(points, R)
            if _plan_stub:
                pmins = np.zeros(proj_dims)
                pmaxs = np.ones(proj_dims)
                bits = _MORTON_BITS
            else:
                # persisted: the projection GEMM otherwise re-evaluates for
                # the bounds scan AND the rank shuffle (>= 2x per pass).
                # Cached blocks are reclaimed by LRU / clearCache, as with
                # the other per-call persists in this package.
                projected = projected.persist(StorageLevel.MEMORY_AND_DISK)
                pmins, pmaxs, n_rows = _feature_bounds(projected, proj_dims)
                bits = _curve_bits(n_rows)
            keyed = space_filling_key(
                projected, pmins, pmaxs, curve=curve, bits=bits
            )
            return _zorder_candidates(keyed, window, stub_rank=_plan_stub)

        candidate_sets = _run_passes(_build_pass, Rs, _plan_stub)

    candidates = candidate_sets[0]
    for c in candidate_sets[1:]:
        candidates = candidates.unionByName(c)

    # Shifted copies carry shifted features; re-attach originals for the true
    # distance (the reference carries the original vector alongside,
    # TsneHelpers.scala:103-111 — we re-join instead to keep shuffles thin).
    pairs = candidates.select("i", "j").dropDuplicates(["i", "j"])
    fi = points.select(F.col("id").alias("i"), F.col("features").alias("__fi"))
    fj = points.select(F.col("id").alias("j"), F.col("features").alias("__fj"))
    edges = (
        pairs.join(fi, "i")
        .join(fj, "j")
        .select(
            "i",
            "j",
            metric_expr(
                metric, F.col("__fi"), F.col("__fj"), dim=dimension
            ).alias("v"),
        )
    )
    return _top_k_per_group(edges, k)
