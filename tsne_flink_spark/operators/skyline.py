"""Distributed Pareto frontier (skyline): the rows of a DataFrame not
STRICTLY dominated on a set of criteria columns — "largest AND most
recent orders", "cheapest AND closest suppliers" — the multi-criteria
top that no single ORDER BY can express.

Dominance: p dominates o iff p >= o on every criterion and p > o on at
least one (after direction normalization).  Ties/duplicate points are
all kept — equal points do not dominate each other — matching the
NOT EXISTS relational definition the DuckDB oracle uses.

Scale design: the skyline is MERGEABLE — a row dominated within any
subset is dominated globally — so phase 1 computes a local skyline per
partition with an Arrow-batched numpy kernel (no shuffle of the fact
table), and phase 2 merges only the per-partition survivors on a single
task.  For d criteria over n random rows the expected skyline is
O((ln n)^(d-1)) — the survivor set is tiny next to the input (8 rows
from 15k orders at sf0.01) — and the phase-2 input is bounded by
(#partitions x local skyline size), not by n.  Worst case
(anti-correlated criteria) the skyline itself is O(n); no engine can
return it without materializing it, and the same kernel degrades
gracefully (it is O(s) per row, s = running skyline size).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from tsne_flink_spark.worker import skip_zip_rescan


def _as_float(s: pd.Series) -> np.ndarray:
    """Criterion column as float64 for vectorized dominance tests.
    Numeric columns pass through; date/timestamp columns map to their
    epoch nanoseconds (order-preserving; day/µs-granular values are far
    above float64's ~256 ns resolution at epoch scale)."""
    if np.issubdtype(s.dtype, np.number):
        return s.to_numpy(dtype="float64")
    return (
        pd.to_datetime(s)
        .to_numpy(dtype="datetime64[ns]")
        .astype("int64")
        .astype("float64")
    )


def _skyline_2d(pts: np.ndarray) -> np.ndarray:
    """2-criteria skyline, fully vectorized O(n log n): after a
    descending lexicographic sort of the DISTINCT points, a point is
    non-dominated iff its second coordinate strictly exceeds the running
    max of every point before it (ties on the first coordinate resolve
    correctly — the higher-second-coordinate twin precedes and raises
    the running max past its sibling); exact duplicates are deduped
    first and re-expanded, since equal points do not dominate each
    other.  This keeps the SINGLE-TASK merge linear even when the
    frontier itself is huge (anti-correlated data), where a
    test-against-kept sweep would be O(n·s)."""
    uniq, inverse = np.unique(pts, axis=0, return_inverse=True)
    u = uniq[::-1]  # descending lex by (c0, c1)
    runmax_before = np.concatenate(
        ([-np.inf], np.maximum.accumulate(u[:-1, 1]))
    )
    keep_desc = u[:, 1] > runmax_before
    mask = keep_desc[::-1][inverse]
    return np.nonzero(mask)[0].astype(np.int64)


def _skyline_3d(pts: np.ndarray) -> np.ndarray:
    """3-criteria skyline via the classic sweep (Kung-Luccio-Preparata
    1975 step for d=3, O(n log s)): iterate DISTINCT points in
    descending lexicographic order — every earlier point e satisfies
    e0 >= p0 (at the first differing column e is larger), so p is
    dominated iff some earlier point also has e1 >= p1 AND e2 >= p2,
    i.e. iff the (c1, c2) projection of p falls under the Pareto
    STAIRCASE of the earlier points' projections.  The staircase (xs
    ascending, ys strictly descending) answers that in one bisect: among
    entries with x >= p1, the max y sits at the FIRST such x.  Distinct
    points make every staircase hit a STRICT dominance (equality on all
    three dims is impossible after dedup).  Survivors insert their
    projection, evicting envelope entries they dominate — total
    insertions + evictions are O(n), so the sweep stays O(n log s) even
    in the anti-correlated worst case where the frontier IS the input
    and the d>=4 test-against-kept sweep degrades to O(n^2)."""
    import bisect

    uniq, inverse = np.unique(pts, axis=0, return_inverse=True)
    u = uniq[::-1]  # descending lex by (c0, c1, c2)
    xs: list[float] = []  # staircase c1, ascending
    ys: list[float] = []  # staircase c2, strictly descending along xs
    keep_desc = np.zeros(len(u), dtype=bool)
    for i in range(len(u)):
        c1, c2 = u[i, 1], u[i, 2]
        j = bisect.bisect_left(xs, c1)
        if j < len(xs) and ys[j] >= c2:
            continue  # strictly dominated by an earlier point
        keep_desc[i] = True
        # insert (c1, c2); evict envelope entries it dominates (those
        # with x <= c1 and y <= c2 — contiguous just before position j)
        lo = j
        while lo > 0 and ys[lo - 1] <= c2:
            lo -= 1
        xs[lo:j] = [c1]
        ys[lo:j] = [c2]
    mask = keep_desc[::-1][inverse]
    return np.nonzero(mask)[0].astype(np.int64)


def _skyline_indices(pts: np.ndarray) -> np.ndarray:
    """Row indices of the non-dominated points (maximize all columns).

    d == 2 dispatches to the vectorized running-max sweep, d == 3 to
    the staircase sweep (both O(n log n) regardless of frontier size).
    For d >= 4: descending lexicographic order — a point can never
    dominate one that sorts before it (the earlier point is >= on the
    first differing column), so the kept set only grows and each
    candidate needs one vectorized test against it — O(n·s·d) with s
    the skyline size (fine for the O((ln n)^(d-1)) expected frontier;
    the anti-correlated worst case at d >= 4 has no known
    sub-quadratic practical kernel).
    """
    if len(pts) == 0:
        return np.empty(0, dtype=np.int64)
    if pts.shape[1] == 2:
        return _skyline_2d(pts)
    if pts.shape[1] == 3:
        return _skyline_3d(pts)
    return _skyline_nd_blocked(pts)


def _skyline_nd_blocked(pts: np.ndarray, block: int = 2048) -> np.ndarray:
    """d >= 4 skyline: descending-lex blocked sweep, fully vectorized.

    Same O(n·s·d) worst case as a test-against-kept sweep (no known
    practical sub-quadratic kernel at d >= 4 when the frontier is
    anti-correlated), but executed as CHUNKED matrix dominance tests
    instead of a per-row Python loop — the probe-measured constant
    factor is ~20-60x (tools/probe_skyline_4d.py), which is the
    difference between "seconds" and "minutes" on a 200k-row
    anti-correlated merge.

    Invariant: after the descending lexicographic sort over DISTINCT
    points, a point can only be dominated by points sorting BEFORE it
    (any earlier point is >= on the first differing column).  So the
    sweep processes candidates in ``block``-sized chunks: each chunk is
    first reduced against ITSELF respecting sort order (earlier rows
    only), then the survivors are tested against the accumulated kept
    matrix in kept-side sub-blocks.  Dedup first — equal points do not
    dominate each other — then re-expand via the inverse map.
    """
    uniq, inverse = np.unique(pts, axis=0, return_inverse=True)
    u = uniq[::-1]  # descending lex across all d columns
    n, d = u.shape

    # deduped points + lex order make every all->= hit strict, so the
    # shared chunked tester applies (see _dominated_all_ge)
    dominated_against = _dominated_all_ge

    keep_desc = np.zeros(n, dtype=bool)
    kept_blocks: list[np.ndarray] = []
    kept_rows = 0
    for b0 in range(0, n, block):
        cb = u[b0 : b0 + block]
        # within-chunk: row j can only be dominated by rows < j (lex
        # order); one strictly-upper-triangular dominance matrix
        ge = cb[:, None, 0] >= cb[None, :, 0]
        for c in range(1, d):
            ge &= cb[:, None, c] >= cb[None, :, c]
        # ge[i, j] == all-dims i >= j; deduped => i dominates j unless
        # i == j.  Mask the diagonal and the lower triangle (only
        # earlier-sorting rows count as dominators).
        dom_in = np.triu(ge, k=1).any(axis=0)
        alive = np.nonzero(~dom_in)[0]
        if kept_rows and len(alive):
            kept = (
                kept_blocks[0]
                if len(kept_blocks) == 1
                else np.vstack(kept_blocks)
            )
            kept_blocks = [kept]
            dom_out = dominated_against(cb[alive], kept)
            alive = alive[~dom_out]
        if len(alive):
            keep_desc[b0 + alive] = True
            kept_blocks.append(cb[alive])
            kept_rows += len(alive)
    mask = keep_desc[::-1][inverse]
    return np.nonzero(mask)[0].astype(np.int64)


def _dominated_all_ge(cand: np.ndarray, dom: np.ndarray) -> np.ndarray:
    """Boolean per candidate row: some dominator row is >= on EVERY
    column.  Chunked over the dominator side; candidates already found
    dominated drop out of later chunks.  Callers must guarantee that an
    all->= hit implies STRICT dominance (deduped points in lex order, or
    cross-range pairs whose first criterion strictly differs)."""
    d = cand.shape[1]
    out = np.zeros(len(cand), dtype=bool)
    for k0 in range(0, len(dom), 4096):
        kb = dom[k0 : k0 + 4096]
        alive = np.nonzero(~out)[0]
        if not len(alive):
            break
        ca = cand[alive]
        ge = kb[:, None, 0] >= ca[None, :, 0]
        for c in range(1, d):
            ge &= kb[:, None, c] >= ca[None, :, c]
        out[alive] |= ge.any(axis=0)
    return out


def pareto_frontier(
    df: DataFrame,
    cols: list[str],
    maximize: list[bool] | None = None,
    merge: bool | str = True,
    by: list[str] | None = None,
    merge_partitions: int | None = None,
    auto_range_threshold: int = 50_000,
) -> DataFrame:
    """All rows of ``df`` not strictly dominated on ``cols``.

    ``maximize[i]`` False minimizes that criterion (sign flip).  Criteria
    must be numeric or date/timestamp; NULL criteria rows are dropped
    (NULL is not comparable under dominance).  Output schema == input
    schema; row order is not defined (a skyline is a SET).

    ``merge=False`` stops after phase 1 and returns the per-partition
    LOCAL skylines — a superset of the global skyline that is
    MERGEABLE: persist shards per ingestion batch and
    ``pareto_frontier(union_of_shards, ...)`` later without rescanning
    the batches (the same shard-then-merge lifecycle as the HLL
    sketches), or feed the probe that measures the phase-1 reduction.

    ``merge=True`` (default) AUTO-SELECTS the phase-2 strategy: the
    phase-1 survivors are materialized and counted (cheap — the count
    reads the checkpointed shards, never rescans the input), and the
    merge runs single-task below ``auto_range_threshold`` survivors or
    range-distributed at/above it.  At 100 TB nobody eyeballs their
    correlation structure before submitting the query — a frontier that
    turns out anti-correlated (survivors ~ input) must not land on one
    core (B90: 125k-survivor d=4 merge = 68 s single-task vs seconds
    range-merged; 1M rows ~80 min vs 467 s).  The threshold default
    (50k) sits where the vectorized single-task sweep still finishes in
    ~10 s; the common tiny-frontier case pays only the checkpoint of a
    few hundred survivor rows.

    ``merge="range"`` / ``merge="single"`` force the respective phase-2
    strategy (see :func:`_range_merge` for the range-partitioned merge's
    soundness argument).  Output row SET is identical either way
    (unit-pinned).

    ``by`` computes one skyline PER GROUP ("best orders per region"):
    one shuffle on the group keys, then the same kernel per group via
    applyInPandas — each group must fit one Arrow batch, the standard
    grouped-map caveat.  For corpus-sized groups use
    :func:`grouped_pareto`, which loops the two-phase ungrouped form
    over the group values instead.
    """
    if not cols:
        raise ValueError("pareto_frontier needs at least one criterion")
    if maximize is None:
        maximize = [True] * len(cols)
    if len(maximize) != len(cols):
        raise ValueError(f"maximize must match cols: {maximize} vs {cols}")
    sign = np.array([1.0 if m else -1.0 for m in maximize])
    schema = df.schema

    if by:
        def group_skyline(pdf: pd.DataFrame) -> pd.DataFrame:
            skip_zip_rescan()
            pdf = pdf.dropna(subset=cols)
            if not len(pdf):
                return pdf
            pts = np.column_stack([_as_float(pdf[c]) for c in cols]) * sign
            return pdf.iloc[_skyline_indices(pts)]

        return df.groupBy(by).applyInPandas(group_skyline, schema)

    def local(batches):
        skip_zip_rescan()
        # amortized geometric folding: buffer incoming Arrow batches and
        # re-run the kernel only once the buffer outgrows the running
        # frontier (>= max(|kept|, 64k) rows).  A per-batch refold is
        # O(#batches x s log s) — quadratic-ish when the frontier is
        # huge (anti-correlated criteria: the 1M-row single-task merge
        # spent 2 minutes refolding ~100 times); folding geometrically
        # keeps total kernel work O(n log n) while peak memory stays
        # O(s + buffer), never the whole partition when the frontier is
        # small.
        kept: pd.DataFrame | None = None
        pending: list[pd.DataFrame] = []
        pending_rows = 0

        def fold() -> pd.DataFrame:
            frames = ([kept] if kept is not None else []) + pending
            cand = (
                frames[0]
                if len(frames) == 1
                else pd.concat(frames, ignore_index=True)
            )
            pts = np.column_stack([_as_float(cand[c]) for c in cols]) * sign
            return cand.iloc[_skyline_indices(pts)].reset_index(drop=True)

        for pdf in batches:
            pdf = pdf.dropna(subset=cols)
            if not len(pdf):
                continue
            pending.append(pdf)
            pending_rows += len(pdf)
            if pending_rows >= max(
                0 if kept is None else len(kept), 65_536
            ):
                kept = fold()
                pending, pending_rows = [], 0
        if pending:
            kept = fold()
        if kept is not None and len(kept):
            yield kept

    local_sky = df.dropna(subset=cols).mapInPandas(local, schema)
    if merge is False:
        return local_sky
    if merge == "single":
        # phase 2: merge the per-partition survivors on one task — input
        # is (#partitions x local skyline), not n; an explicit
        # single-partition exchange, not a global sort
        return local_sky.repartition(1).mapInPandas(local, schema)
    from tsne_flink_spark.operators.optimize import materialize

    # lineage cut BEFORE phase 2 either way: the auto path needs a
    # survivor count without re-running phase 1, and the range path's
    # repartitionByRange SAMPLES its input to place the range bounds, so
    # an unmaterialized phase-1 would execute twice (measured 2x wall)
    local_sky = materialize(local_sky)
    if merge is True and local_sky.count() < auto_range_threshold:
        return local_sky.repartition(1).mapInPandas(local, schema)
    # merge == "range", or auto with a huge (anti-correlated) frontier
    return _range_merge(
        local_sky, local, cols, maximize, sign, schema, merge_partitions
    )


def _range_merge(
    local_sky: DataFrame,
    local,
    cols: list[str],
    maximize: list[bool],
    sign: np.ndarray,
    schema,
    merge_partitions: int | None,
) -> DataFrame:
    """Distributed phase-2 merge, range-partitioned on the FIRST
    criterion — the scale path for frontiers too big for one task
    (anti-correlated criteria, where the skyline IS ~the input and the
    single-task merge is O(n·s) on one core; probe:
    tools/probe_skyline_4d.py).

    Soundness: after range-partitioning the phase-1 survivors on the
    first criterion in its BEST direction, any dominator of a row sits
    in the same range block (equal first criterion — equal range keys
    share a partition) or an EARLIER one (strictly better first
    criterion).  So: reduce each block to its own skyline (the full
    kernel — handles ties/equals), then test each block's survivors
    against the UNION of earlier blocks' survivors, where every all->=
    hit is strict by construction (cross-block pairs differ strictly on
    the first criterion).  Transitivity makes earlier-block LOCAL
    skylines a sufficient dominator set.  Total dominance work is the
    same O(n·s·d) as the single-task sweep but spread over the blocks
    (the critical path is the LAST block: O((s/P)·s·d)), and the
    shuffle is bounded by P x survivor volume.  Output row SET is
    identical to the single-task merge (unit-pinned).

    ``local_sky`` must arrive MATERIALIZED (pareto_frontier checkpoints
    it): repartitionByRange samples its input to place the range bounds,
    so an unmaterialized phase 1 would execute twice."""
    from pyspark.sql import functions as F

    spark = local_sky.sparkSession
    n_parts = merge_partitions or spark.sparkContext.defaultParallelism
    key = (
        F.col(cols[0]).desc() if maximize[0] else F.col(cols[0]).asc()
    )
    from tsne_flink_spark.operators.optimize import materialize

    # per-range-block skyline, tagged with its block id
    tagged = (
        local_sky.repartitionByRange(n_parts, key)
        .mapInPandas(local, schema)
        .withColumn("__pid", F.spark_partition_id())
    )

    tagged = materialize(tagged)  # candidates AND replicated dominators
    cand = tagged.withColumnRenamed("__pid", "__tgt").withColumn(
        "__is_cand", F.lit(True)
    )
    doms = (
        tagged.withColumn(
            "__tgt",
            F.explode(
                F.when(
                    F.col("__pid") < F.lit(n_parts - 1),
                    F.sequence(
                        F.col("__pid") + 1, F.lit(n_parts - 1)
                    ),
                ).otherwise(F.array().cast("array<int>"))  # last block: no later targets
            ),
        )
        .drop("__pid")
        .withColumn("__is_cand", F.lit(False))
    )

    def filter_block(pdf: pd.DataFrame) -> pd.DataFrame:
        skip_zip_rescan()
        c = pdf[pdf["__is_cand"]]
        d_ = pdf[~pdf["__is_cand"]]
        if not len(c):
            return c.drop(columns=["__tgt", "__is_cand"])
        if len(d_):
            cp = np.column_stack([_as_float(c[x]) for x in cols]) * sign
            dp = np.column_stack([_as_float(d_[x]) for x in cols]) * sign
            c = c[~_dominated_all_ge(cp, dp)]
        return c.drop(columns=["__tgt", "__is_cand"])

    return (
        cand.unionByName(doms)
        .groupBy("__tgt")
        .applyInPandas(filter_block, schema)
    )


def grouped_pareto(
    df: DataFrame,
    group_cols: str | list[str],
    cols: list[str],
    maximize: list[bool] | None = None,
    merge: bool | str = True,
    values: list | None = None,
    merge_partitions: int | None = None,
    auto_range_threshold: int = 50_000,
    max_groups: int = 64,
) -> DataFrame:
    """One Pareto frontier PER GROUP VALUE via the two-phase ungrouped
    form — the corpus-sized-groups path that ``pareto_frontier(by=...)``
    cannot take (its applyInPandas hands each whole group to ONE task as
    ONE Arrow batch; a 100-TB group overflows both).  Here each group
    value gets the full distributed pipeline — partition-local kernels,
    counted survivors, auto single-task/range merge — so a group's size
    is bounded by the cluster, not by a task.

    The driver loop is bounded by the number of GROUP VALUES, the exact
    inverse of the ``by=`` tradeoff: use ``by=`` for many small groups
    (one shuffle, no loop), this for FEW huge groups (a handful of
    regions / snapshot dates / corpora).  ``max_groups`` guards against
    the wrong choice — a high-cardinality column here would mean
    thousands of Spark jobs.  ``values`` skips the distinct-scan when
    the caller already knows the group values (usual at 100 TB: they're
    partition keys).  Per-group filters on a partition/sort column reach
    the scan as pushed predicates, so each pass reads ~its group only.

    Output schema == input schema; each row appears in (at most) its own
    group's frontier.
    """
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    if values is None:
        values = [
            tuple(r) for r in df.select(*group_cols).distinct().collect()
        ]
    else:
        values = [v if isinstance(v, tuple) else (v,) for v in values]
    if len(values) > max_groups:
        raise ValueError(
            f"grouped_pareto saw {len(values)} group values (max_groups="
            f"{max_groups}): a driver loop per value is the wrong plan at"
            " that cardinality — use pareto_frontier(by=...) instead"
        )
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for v in values:
        pred = reduce(
            lambda a, b: a & b,
            [
                F.col(c).isNull() if x is None else (F.col(c) == F.lit(x))
                for c, x in zip(group_cols, v)
            ],
        )
        parts.append(
            pareto_frontier(
                df.where(pred),
                cols,
                maximize=maximize,
                merge=merge,
                merge_partitions=merge_partitions,
                auto_range_threshold=auto_range_threshold,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
