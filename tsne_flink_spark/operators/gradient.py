"""t-SNE gradient as one fused pass: attraction from the P row each point
carries, Barnes-Hut repulsion from a broadcast tree, combined as
``attr - rep/sumQ`` (no x4 factor — reference quirk Q3,
TsneHelpers.scala:311-317, compensated by the default learning rate).

Reference: TsneHelpers.scala:221-318.

Layout — the reference's own: each point keeps its P row (the R3 sparse-row
layout) and the embedding is broadcast into the force map every iteration
(PAPER.md §1.1, TsneHelpers.scala:307).  :func:`attach_p` puts P onto the
working-set rows once, as ``js``/``vs`` arrays.  :func:`fused_pass` then

1. takes the centring mean and builds the repulsion source (below);
2. runs ONE ``mapInArrow`` kernel that computes, per row, the repulsion,
   the attraction (q from the kNN metric's NumPy twin) and ``sumq``, and
   adds its sumQ and KL partials to a partition-keyed accumulator
   (operators/partials.py).

sumQ and the loss come from those partials, with no job of their own; the
optimizer applies the update (operators/optimize.py).

Where the driver builds the tree, it holds Y anyway: the pass takes Y
((8 + 8d) B/point: int64 id + d doubles) from the optimizer loop, which
keeps it on the driver, or else collects it; it takes the mean, builds
the tree and broadcasts (tree, ids, centred Y); the kernel looks each row
and its neighbours up in that Y.  No join and no shuffle per iteration.
The summary regime keeps Y off the driver, as it exists to: a bounds
aggregate gives the mean, the kernel centres the rows' own y, and each
row's neighbour coordinates are gathered by a join on the P edges
(:func:`_gather_neighbours`) instead of broadcast.

Repulsion sources (``tree_build``), all on the d-generic NDTree (the
reference's quadtree at d=2):

- theta == 0: the tree built on the driver and evaluated at theta 0, which
  is exact (no cell is ever summarized); the root sits at the mean so no
  point falls outside it.
- ``"driver"``: tree built from the driver's Y.  Auto while the tree fits
  the 64 MB broadcast budget (~305k points at d=2, ~152k at d=3); the
  optimizer's state on the driver then costs at most ~17 MB.
- ``"summary"``: the 100-TB path — a depth-capped far-field pyramid plus a
  near-field cogroup (operators/farfield.py, BASELINE.md B14) instead of the
  O(N) tree broadcast; its rows are joined onto the pass by id.  Auto above
  the budget.  Where its plan declines (tiny N, zero extent, or a halo that
  covers the grid, as the reference condition does on a compressed
  early-iteration embedding) the pass takes the driver build unchanged,
  after the bounds aggregate that planned it.

:func:`fused_pass` also takes ``"stub"``, for ``TSNE.plan`` only: an empty
tree and no collect, so the whole pass can be explained without running a
job.  Every public entry point rejects it (:func:`check_tree_build`).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from tsne_flink_spark.functions.metrics import numpy_row_metric
from tsne_flink_spark.operators.affinities import _EPS_FLOOR, joint_sums
from tsne_flink_spark.operators.ndtree import build_ndtree
from tsne_flink_spark.operators.partials import Partials
from tsne_flink_spark.worker import skip_zip_rescan

_TREE_BUILDS = ("auto", "driver", "summary")

# Per-row outputs of the fused kernel, appended to the input row.
_KERNEL_FIELDS = [
    StructField("attr", ArrayType(DoubleType())),
    StructField("rep", ArrayType(DoubleType())),
    StructField("sumq", DoubleType()),
]

# Auto-mode policy constants (BASELINE.md B14): the pickled full d=2 tree
# measured 213 MB at N=1M, ~220 bytes/point with headroom; above a 64 MB
# per-iteration broadcast budget the summary far-field path is selected.
# Per-point tree bytes are dominated by the 2^d-wide child table: 55 * 2^d
# reproduces both measured values (220 B/pt at d=2, B14; 440 B/pt at d=3,
# N=1M, BASELINE.md B31).
_AUTO_BROADCAST_BUDGET = 64 << 20  # => auto switches to summary at N ~ 305k
# Below the budget auto builds the tree on the driver from the Y the fused
# pass collects: at N=250k, d=2 (4-core host) that iteration took 4.7 s
# against 12.6 s for a since-deleted executor-side build with a P-edge
# gather (10 neighbours per point, theta 0.5).

# An exact evaluation visits every leaf, so the frontier holds (queries x
# points) pairs; the kernel evaluates in query chunks that keep it this small.
_EXACT_EVAL_PAIRS = 1 << 22


def _nd_tree_bytes_per_point(d: int) -> int:
    return 55 << d


def _auto_tree_build(n: int, d: int) -> str:
    if n * _nd_tree_bytes_per_point(d) > _AUTO_BROADCAST_BUDGET:
        return "summary"
    return "driver"


def check_tree_build(tree_build: str) -> None:
    """Reject anything but a user-facing ``tree_build`` (the plan-only
    "stub" included), before any job runs."""
    if tree_build not in _TREE_BUILDS:
        raise ValueError(
            f"tree_build must be one of {', '.join(map(repr, _TREE_BUILDS))}; "
            f"got {tree_build!r}"
        )


def resolve_tree_build(
    tree_build: str, theta: float, d: int, count: Callable[[], int]
) -> str:
    """The concrete repulsion source of a pass: theta 0 is exact on a
    driver-built tree, and "auto" decides by N (``count()``, called only
    for "auto").  N is loop-invariant, so loops resolve once per call."""
    check_tree_build(tree_build)
    if theta == 0.0:
        return "driver"
    if tree_build == "auto":
        return _auto_tree_build(count(), d)
    return tree_build


def _bounds_with_count(embedding: DataFrame, d: int):
    """Bounds/mean/count aggregate (min_k / max_k / mean_k / n), for the
    summary regime of the fused pass and for summary callers that pass no
    bounds."""
    aggs = []
    for k in range(d):
        aggs += [
            F.min(F.col("y")[k]).alias(f"min_{k}"),
            F.max(F.col("y")[k]).alias(f"max_{k}"),
            F.avg(F.col("y")[k]).alias(f"mean_{k}"),
        ]
    aggs.append(F.count(F.lit(1)).alias("n"))
    return embedding.agg(*aggs).first()


def _repulsive_summary(
    embedding: DataFrame,
    theta: float,
    d: int,
    fix_bounds_mean: bool,
    bh_condition: str,
    summary_depth: int | None = None,
    bounds=None,
) -> DataFrame | None:
    """Barnes-Hut repulsion WITHOUT the per-iteration O(N) tree broadcast
    (BASELINE.md B11): broadcast a depth-capped 2^d-ary cell-aggregate
    pyramid (O(2^(d*D)) bytes, constant in N) and shuffle each point only to
    the query blocks within a theta-derived chebyshev halo.  Near field is
    evaluated with a local NDTree per block (full leaf-level accuracy incl.
    coincident-point semantics); far field as guaranteed-accepted cell
    masses.  See operators/farfield.py for the decomposition and its
    accuracy argument.

    Returns None when the regime calls for the driver-built full tree
    instead (degenerate extent, tiny N, or halo ~ grid — e.g. the
    reference's non-scale-invariant condition on a compressed embedding,
    which degenerates to exact evaluation by design).
    """
    from tsne_flink_spark.operators import farfield

    spark = embedding.sparkSession
    b = bounds if bounds is not None else _bounds_with_count(embedding, d)
    if b is None or b["min_0"] is None:
        return None
    center = np.array(
        [float(b[f"mean_{k}"]) for k in range(d)]
        if fix_bounds_mean
        else [0.0] * d
    )
    half = max(float(b[f"max_{k}"] - b[f"min_{k}"]) for k in range(d))
    plan = farfield.plan_summary(
        int(b["n"]), d, half, theta, bh_condition, center=tuple(center),
        summary_depth=summary_depth,
    )
    if plan is None:
        return None

    grid, cellw, rc = plan.grid, plan.cellw, plan.rc
    block, bpa = 1 << plan.block_bits, plan.blocks_per_axis
    origin = center - half

    def cell_ix(col: str, org: float):
        return F.least(
            F.greatest(F.floor((F.col(col) - F.lit(org)) / F.lit(cellw)),
                       F.lit(0)),
            F.lit(grid - 1),
        ).cast("long")

    pts = embedding.select(
        "id", *[F.col("y")[k].alias(f"p{k}") for k in range(d)]
    )
    for k in range(d):
        pts = pts.withColumn(f"i{k}", cell_ix(f"p{k}", float(origin[k])))

    # mass side: replicate the full-tree root containment (insert drops
    # points outside the root cell — reference behavior)
    contained = F.lit(True)
    for k in range(d):
        contained = contained & (
            F.abs(F.col(f"p{k}") - F.lit(float(center[k]))) <= F.lit(half)
        )
    mass = pts.where(contained)

    # depth-D cell aggregates (map-side combined, <= 2^(d*D) rows shuffled)
    # -> per-partition partial pyramids -> executor-side treeReduce merge.
    # The driver receives only the FINISHED pyramid (the object it must hold
    # to broadcast anyway) — no row collect and no driver-side build.
    cell_expr = F.lit(0).cast("long")
    for k in range(d):
        cell_expr = cell_expr + F.col(f"i{k}") * F.lit(grid ** k)
    agg = mass.groupBy(cell_expr.alias("cell")).agg(
        F.count(F.lit(1)).alias("cum"),
        *[F.sum(f"p{k}").alias(f"s{k}") for k in range(d)],
    )

    def part_pyramid(rows):
        skip_zip_rescan()
        cells, cums, svals = [], [], []
        for r in rows:
            cells.append(r["cell"])
            cums.append(r["cum"])
            svals.append([r[f"s{k}"] for k in range(d)])
        yield farfield.build_pyramid(
            np.asarray(cells, dtype=np.int64),
            np.asarray(cums, dtype=np.int64),
            np.asarray(svals, dtype=np.float64).reshape(len(cells), d),
            plan,
        )

    parts = agg.rdd.mapPartitions(part_pyramid)
    if parts.getNumPartitions() == 0:
        # all points outside the root cell (reference drop semantics): AQE
        # collapses the empty aggregate to a zero-partition RDD treeReduce
        # cannot reduce — the pyramid is simply empty
        z = np.zeros(0, dtype=np.int64)
        levels = farfield.build_pyramid(z, z, np.zeros((0, d)), plan)
    else:
        levels = parts.treeReduce(farfield.merge_pyramids, depth=2)
    bc = spark.sparkContext.broadcast(levels)

    # Explicitly repartition both cogroup sides on the block key: the
    # cogroup's own exchange gets AQE-coalesced by SIZE (a few bytes/row),
    # which serialized the CPU-heavy eval_block Python stage onto ~14 tasks
    # at N=1M (B14); an explicit repartition is exempt from coalescing and
    # Catalyst elides the redundant second exchange.
    n_eval = spark.sparkContext.defaultParallelism * 2
    bkey_expr = F.lit(0).cast("long")
    for k in range(d):
        bkey_expr = bkey_expr + (
            F.shiftright(F.col(f"i{k}"), plan.block_bits) * F.lit(bpa ** k)
        )
    qdf = pts.withColumn("bkey", bkey_expr).select(
        "id", *[f"p{k}" for k in range(d)], "bkey"
    ).repartition(n_eval, "bkey")

    def block_range(col: str):
        lo = F.greatest(
            F.floor((F.col(col) - F.lit(rc)) / F.lit(float(block))), F.lit(0)
        ).cast("long")
        hi = F.least(
            F.floor((F.col(col) + F.lit(rc)) / F.lit(float(block))),
            F.lit(bpa - 1),
        ).cast("long")
        return F.sequence(lo, hi)

    pm = mass
    for k in range(d):
        pm = pm.withColumn(f"b{k}", F.explode(block_range(f"i{k}")))
    nbkey_expr = F.lit(0).cast("long")
    for k in range(d):
        nbkey_expr = nbkey_expr + F.col(f"b{k}") * F.lit(bpa ** k)
    # the point side shares lineage with qdf; same-name attributes on both
    # cogroup sides get silently deduplicated away (observed: the right side
    # arrives with only the grouping key), so alias to distinct names
    pmass = pm.select(
        *[F.col(f"p{k}").alias(f"n{k}") for k in range(d)],
        nbkey_expr.alias("nbkey"),
    ).repartition(n_eval, "nbkey")

    halo_lo_off = np.full(d, -rc, dtype=np.int64)
    halo_hi_off = np.full(d, block - 1 + rc, dtype=np.int64)

    def eval_block(key, qpdf: pd.DataFrame, ppdf: pd.DataFrame):
        skip_zip_rescan()
        if not len(qpdf):
            return pd.DataFrame(
                {"id": pd.Series([], dtype="int64"),
                 "rep": pd.Series([], dtype=object),
                 "sumq": pd.Series([], dtype="float64")}
            )
        rem = int(key[0])
        bidx = np.zeros(d, dtype=np.int64)
        for k in range(d):
            bidx[k] = rem % bpa
            rem //= bpa
        Qp = np.stack(
            [qpdf[f"p{k}"].to_numpy(np.float64) for k in range(d)], axis=1
        )
        halo_lo = bidx * block + halo_lo_off
        halo_hi = bidx * block + halo_hi_off
        q_lo, q_hi = Qp.min(axis=0), Qp.max(axis=0)
        w, com = farfield.far_masses(
            bc.value, plan, halo_lo, halo_hi, q_lo, q_hi
        )
        forces, sumq = farfield.eval_far(Qp, w, com)
        if len(ppdf):
            P = np.stack(
                [ppdf[f"n{k}"].to_numpy(np.float64) for k in range(d)], axis=1
            )
            ltree = build_ndtree(P, fix_bounds_mean=True)
            nf, ns = ltree.repulsive_forces(Qp, theta, condition=bh_condition)
            forces += nf
            sumq += ns
        return pd.DataFrame(
            {"id": qpdf["id"].to_numpy(), "rep": list(forces), "sumq": sumq}
        )

    return (
        qdf.groupby("bkey")
        .cogroup(pmass.groupby("nbkey"))
        .applyInPandas(eval_block, schema="id int, rep array<double>, sumq double")
    )


def attach_p(working_set: DataFrame, p_coo: DataFrame) -> DataFrame:
    """The working-set rows with their P rows attached as ``js``/``vs``
    arrays, sorted by j so the attraction sums in a layout-independent
    order.  Entries of one (i, j) pair are summed (``p_coo`` may be a joint
    P or the P kernels' symmetric edges), behind one exchange on i.  A row
    without P entries gets empty arrays — zero attraction — and is kept;
    P entries whose i is not a row are dropped."""
    p_rows = joint_sums(p_coo).groupBy("i").agg(
        F.sort_array(F.collect_list(F.struct("j", "v"))).alias("__p")
    )
    joined = working_set.join(
        p_rows, working_set["id"] == p_rows["i"], "left"
    )
    js = F.transform("__p", lambda e: e["j"])
    vs = F.transform("__p", lambda e: e["v"])
    return joined.select(
        *[F.col(c) for c in working_set.columns],
        F.coalesce(js, F.array().cast("array<int>")).alias("js"),
        F.coalesce(vs, F.array().cast("array<double>")).alias("vs"),
    )


def collect_y(
    rows: DataFrame, d: int, cols: tuple[str, ...] = ("y",)
) -> tuple[np.ndarray, ...]:
    """``(ids, *vectors)``: the id and the d-vector ``cols`` of every row,
    ordered by id — one job, collected through Arrow (no Row objects)."""
    return by_id(rows.select("id", *cols).toArrow(), cols, d)


def by_id(
    table: pa.Table, cols: tuple[str, ...], d: int
) -> tuple[np.ndarray, ...]:
    """``(ids, *vectors)`` of an Arrow table's rows, ordered by id."""
    ids = table.column("id").to_numpy().astype(np.int64)
    order = np.argsort(ids, kind="stable")
    return ids[order], *(
        _values(table.column(c).combine_chunks()).reshape(len(ids), d)[order]
        for c in cols
    )


def shifted_y(mean: np.ndarray) -> Column:
    """``y - mean`` per component; bit-identical to the NumPy subtraction."""
    return F.array(
        *[F.col("y")[k] - F.lit(float(m)) for k, m in enumerate(mean)]
    )


def _bounds_dict(n: int, lo, hi, mean) -> dict:
    """A bounds row in the shape of ``_bounds_with_count``."""
    b = {"n": n}
    for k in range(len(lo)):
        b[f"min_{k}"], b[f"max_{k}"], b[f"mean_{k}"] = lo[k], hi[k], mean[k]
    return b


def _summary_repulsion(
    rows: DataFrame,
    d: int,
    centre: bool,
    theta: float,
    fix_bounds_mean: bool,
    bh_condition: str,
):
    """The summary regime's centring mean and materialized (id, rep, sumq)
    rows, with Y kept off the driver: one bounds aggregate gives the mean
    and plans the pass.  None where the plan declines (or there are no
    rows): the pass then builds the full tree on the driver."""
    b = _bounds_with_count(rows, d)
    if b is None or not b["n"]:
        return None
    lo, hi, mn = (
        np.array([float(b[f"{s}_{k}"]) for k in range(d)])
        for s in ("min", "max", "mean")
    )
    mean = mn if centre else np.zeros(d)
    # min/max commute with subtracting a constant (rounding is monotone)
    bounds = _bounds_dict(int(b["n"]), lo - mean, hi - mean, mn - mean)
    centred = rows.select("id", shifted_y(mean).alias("y"))
    rep = _repulsive_summary(
        centred, theta, d, fix_bounds_mean, bh_condition, bounds=bounds
    )
    if rep is None:
        return None
    # the cogroup pipeline (near-field shuffle + per-block Python
    # evaluation) must run once: the kernel reads rep and sumq from the
    # same evaluation
    from tsne_flink_spark.operators.optimize import materialize

    return mean, materialize(rep)


def _gather_neighbours(rows: DataFrame) -> DataFrame:
    """(id, __gv, __gy): each row's P values and its neighbours' y
    (flattened), sorted by j as the row's ``js`` are — the attraction's
    inputs without a Y broadcast.  Neighbours that are not rows are
    dropped, as the broadcast lookup drops them."""
    edges = rows.select(
        F.col("id").alias("__i"), F.explode(F.arrays_zip("js", "vs")).alias("__e")
    )
    ys = rows.select(F.col("id").alias("__j"), F.col("y").alias("__yj"))
    nbrs = (
        edges.join(ys, F.col("__e.js") == F.col("__j"))
        .groupBy("__i")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("__j").alias("j"),
                        F.col("__e.vs").alias("v"),
                        F.col("__yj").alias("y"),
                    )
                )
            ).alias("__n")
        )
    )
    return nbrs.select(
        F.col("__i").alias("id"),
        F.transform("__n", lambda e: e["v"]).alias("__gv"),
        F.flatten(F.transform("__n", lambda e: e["y"])).alias("__gy"),
    )


def _eval_tree(tree, Q: np.ndarray, theta: float, condition: str, n: int):
    """The tree's repulsion on Q, in query chunks of at most
    ``_EXACT_EVAL_PAIRS // n``: where no cell is summarized (theta 0, or
    the reference condition on a compressed embedding) the frontier holds
    (queries x points) pairs.  A query's sums do not depend on the other
    queries in its chunk, so chunking changes no bit."""
    step = max(1, _EXACT_EVAL_PAIRS // max(n, 1))
    parts = [
        tree.repulsive_forces(Q[s:s + step], theta, condition=condition)
        for s in range(0, len(Q), step)
    ]
    return np.concatenate([f for f, _ in parts]), np.concatenate([q for _, q in parts])


def _values(col) -> np.ndarray:
    """The flattened values of an Arrow list column."""
    return col.flatten().to_numpy(zero_copy_only=False)


def _row_sums(src: np.ndarray, weights: np.ndarray, m: int) -> np.ndarray:
    """Per-row sums of edge weights (float64 even with no edges, where
    bincount returns integers)."""
    return np.bincount(src, weights=weights, minlength=m).astype(np.float64)


def _list_column(rows: np.ndarray) -> pa.Array:
    """(m, d) float64 rows as an Arrow list<double> column."""
    m, d = rows.shape
    offsets = pa.array(np.arange(0, m * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(rows.ravel()))


def _kernel(bc, d, mean, theta, condition, metric, p_total, exaggeration,
            summary, out_cols, partials):
    """The fused per-partition kernel (see the module docstring), on Arrow
    batches: columns are read and written as flat buffers, and the
    pass-through ``out_cols`` are handed back untouched, but for ``y``,
    which comes back centred.  Each row's centred y and its neighbours'
    are looked up in the broadcast (ids, centred Y), and repulsion comes
    from the broadcast tree; under ``summary``, all of them come from the
    row instead: its own y, its joined ``rep``/``sumq`` and its gathered
    ``__gv``/``__gy``.  The task adds its sumQ and KL partials once, at
    its end."""
    row_metric = numpy_row_metric(metric)
    p_total = max(p_total, _EPS_FLOOR)

    def scaled(v: np.ndarray) -> np.ndarray:
        return np.maximum(v / p_total, _EPS_FLOOR) * exaggeration

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        skip_zip_rescan()
        if not summary:
            tree, ids, Yc = bc.value
        sum_q = kl = pv = 0.0
        for batch in batches:
            m = batch.num_rows
            if not m:
                continue
            if summary:
                y = _values(batch.column("y")).reshape(m, d) - mean
                rep = _values(batch.column("rep")).reshape(m, d)
                sumq = batch.column("sumq").to_numpy(zero_copy_only=False)
                gv = batch.column("__gv")
                lens = gv.value_lengths().to_numpy(zero_copy_only=False)
                src = np.repeat(np.arange(m), lens)
                v = scaled(_values(gv))
                yj = _values(batch.column("__gy")).reshape(-1, d) - mean
            else:
                # the broadcast Y is the rows' y: look each row's up
                row_ids = batch.column("id").to_numpy(zero_copy_only=False)
                y = Yc[np.searchsorted(ids, row_ids)]
                rep, sumq = _eval_tree(tree, y, theta, condition, len(ids))
                js_col = batch.column("js")
                lens = js_col.value_lengths().to_numpy(zero_copy_only=False)
                src = np.repeat(np.arange(m), lens)
                js = _values(js_col).astype(np.int64)
                v = scaled(_values(batch.column("vs")))
                # neighbours missing from the rows contribute nothing
                pos = np.minimum(np.searchsorted(ids, js), max(len(ids) - 1, 0))
                found = ids[pos] == js if len(ids) else np.zeros(len(js), dtype=bool)
                src, pos, v = src[found], pos[found], v[found]
                yj = Yc[pos]
            yi = y[src]
            q = 1.0 / (1.0 + row_metric(yi, yj))
            w = v * q
            diff = yi - yj
            attr = np.column_stack(
                [_row_sums(src, w * diff[:, c], m) for c in range(d)]
            )
            sum_q += float(np.sum(sumq))
            kl += float(np.sum(v * np.log(v / q)))
            pv += float(np.sum(v))

            cols = {c: batch.column(c) for c in out_cols}
            if "y" in cols:
                cols["y"] = _list_column(y)
            cols.update(
                attr=_list_column(attr), rep=_list_column(rep),
                sumq=pa.array(sumq, pa.float64()),
            )
            yield pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))
        partials.add(sum_q, kl, pv)

    return run


def fused_pass(
    rows: DataFrame,
    theta: float,
    n_components: int,
    metric: str = "sqeuclidean",
    exaggeration: float = 1.0,
    centre: bool = False,
    fix_bounds_mean: bool = False,
    bh_condition: str = "reference",
    tree_build: str = "auto",
    p_total: float = 1.0,
    held: tuple[np.ndarray, np.ndarray] | None = None,
) -> tuple[DataFrame, bool, Partials]:
    """One gradient evaluation over rows carrying (id, y, js, vs, ...).

    Returns ``(kernel rows, used_summary, partials)``: the input rows (``y``
    centred when ``centre``) plus attr, rep and sumq, lazily — callers
    materialize, then read :func:`sum_q_and_loss` from ``partials``.  The
    kernel uses each P value as max(v / ``p_total``, smallest double) *
    ``exaggeration``, so unnormalized P and early exaggeration share one P
    layout; the loss partials use the scaled P, as the reference does.
    Attraction uses the kNN ``metric`` (as the reference,
    TsneHelpers.scala:287-295), repulsion always squared Euclidean
    (QuadTree.scala:133).  ``tree_build`` picks the repulsion source (module
    docstring); "auto" counts the rows and decides by N
    (:func:`resolve_tree_build`; loops resolve once and pass the result).

    ``held`` is the rows' (ids, Y), ordered by id, where the caller keeps
    them on the driver (the driver-build loop, operators/optimize.py, with
    ``tree_build="driver"``): the driver build then collects nothing, the
    rows need no ``y``, and the kernel returns only (id, attr, rep, sumq).
    """
    d = n_components
    if tree_build != "stub":
        tree_build = resolve_tree_build(tree_build, theta, d, rows.count)
    summary = None
    if tree_build == "summary":
        summary = _summary_repulsion(
            rows, d, centre, theta, fix_bounds_mean, bh_condition
        )
    sc = rows.sparkSession.sparkContext
    if summary is not None:
        mean, rep = summary
        src = rows.join(_gather_neighbours(rows), "id", "left").select(
            *rows.columns,
            F.coalesce("__gv", F.array().cast("array<double>")).alias("__gv"),
            F.coalesce("__gy", F.array().cast("array<double>")).alias("__gy"),
        ).join(rep, "id", "left")
        bc = None
    else:
        # the driver build, also where the summary plan declines
        if held is not None:
            ids, Y = held
        elif tree_build == "stub":
            ids, Y = np.zeros(0, dtype=np.int64), np.zeros((0, d))
        else:
            ids, Y = collect_y(rows, d)
        mean = Y.mean(axis=0) if centre and len(Y) else np.zeros(d)
        Yc = Y - mean
        tree = build_ndtree(Yc, fix_bounds_mean or theta == 0.0)
        src = rows
        bc = sc.broadcast((tree, ids, Yc))
    out_cols = ["id"] if held is not None else [
        c for c in src.columns if c not in ("rep", "sumq", "__gv", "__gy")
    ]
    schema = StructType(
        [f for f in src.schema.fields if f.name in out_cols] + _KERNEL_FIELDS
    )
    partials = Partials(sc, 3)
    kernel = _kernel(
        bc, d, mean, theta, bh_condition, metric, p_total, exaggeration,
        summary is not None, out_cols, partials,
    )
    return src.mapInArrow(kernel, schema=schema), summary is not None, partials


def sum_q_and_loss(partials: Partials) -> tuple[float, float]:
    """(sumQ, loss) of a materialized pass, from its kernel's partials.  The
    loss is the KL divergence sum v*log(v / (q/sumQ))
    (TsneHelpers.scala:297-300), built as sum v*log(v/q) + (sum v)*log(sumQ)."""
    sum_q, kl, pv = partials.totals()
    with np.errstate(divide="ignore", invalid="ignore"):
        loss = float(kl + pv * np.log(sum_q)) if pv else 0.0
    return sum_q, loss


def dy(sum_q: Column) -> Column:
    """The gradient ``attr - rep/sumQ`` of a pass's row."""
    return F.zip_with(
        "attr",
        F.transform(F.col("rep"), lambda r: r / sum_q),
        lambda a, r: a - r,
    )


def gradient(
    p_coo: DataFrame,
    embedding: DataFrame,
    metric: str = "sqeuclidean",
    theta: float = 0.0,
    n_components: int = 2,
    compute_loss: bool = False,
    fix_bounds_mean: bool = False,
    bh_condition: str = "reference",
    tree_build: str = "auto",
) -> tuple[DataFrame, DataFrame | None]:
    """One gradient evaluation — the optimizer loop's fused pass.

    Returns ``(grad, loss)``: grad is (id, dy ARRAY<DOUBLE>), one row per
    embedding row; loss is a 1-row (loss DOUBLE) DataFrame when
    ``compute_loss`` (KL divergence, see :func:`sum_q_and_loss`) else None.
    Runs the loop's pass (materialized kernel, sumQ); ``grad`` is a
    projection over it.
    """
    from tsne_flink_spark.operators.optimize import materialize

    check_tree_build(tree_build)
    rows = attach_p(embedding.select("id", "y"), p_coo)
    kern, _, partials = fused_pass(
        rows, theta, n_components, metric, fix_bounds_mean=fix_bounds_mean,
        bh_condition=bh_condition, tree_build=tree_build,
    )
    kern = materialize(kern)
    sum_q, loss = sum_q_and_loss(partials)
    grad = kern.select("id", dy(F.lit(sum_q)).alias("dy"))
    if not compute_loss:
        return grad, None
    return grad, embedding.sparkSession.createDataFrame([(loss,)], "loss double")
