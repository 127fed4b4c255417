"""Pairwise conditional affinities P(j|i) and the symmetrized joint P(ij).

Reference semantics:

- ``pairwise_affinities`` — per point i, binary-search beta_i = 1/sigma_i^2 so
  the conditional distribution's entropy hits log(perplexity), then emit
  P(j|i) over i's kNN edges.  Reference: TsneHelpers.scala:162-180 (grouping)
  and :434-504 (bisection: start beta=1, 50 iterations, tolerance 1e-5,
  double/halve while a bound is infinite, else midpoint).
- ``joint_distribution`` — P(ij) = (P(j|i) + P(i|j)) / sum, floored at the
  smallest positive double.  Reference: TsneHelpers.scala:182-196.

Spark-first design: the bisection is the one genuinely per-group algorithm in
the engine.  Instead of ``applyInPandas`` (one Python call per group — death
by overhead at millions of groups), :func:`conditional_p` bisects all the
groups a kernel holds *simultaneously* in one vectorized numpy loop: 50
numpy passes, not 50 x n_groups Python calls.  ``TSNE.fit`` skips
``joint_distribution``: its P kernel emits each P(j|i) in both directions
and a share of their total (operators/partials.py), ``attach_p`` sums the
pairs (:func:`joint_sums`), and the gradient kernel divides by the total.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.operators.partials import Partials
from tsne_flink_spark.worker import skip_zip_rescan

# Smallest positive IEEE-754 double.  The reference floors with Scala's
# Double.MinValue (TsneHelpers.scala:191,194) which is the *most negative*
# double — i.e. a no-op for positive probabilities.  Flooring with the
# smallest positive double preserves that no-op behavior for positive values
# while also guarding against exact zeros (quirk Q7).
_EPS_FLOOR = 4.9e-324

_H_TOL = 1e-5
_BISECTION_ITERS = 50


def _bisect_betas(
    d: np.ndarray, starts: np.ndarray, counts: np.ndarray, target_h: float
) -> np.ndarray:
    """Vectorized entropy bisection across many groups at once.

    ``d``: concatenated distances, grouped contiguously; ``starts``/``counts``
    delimit groups.  Returns P(j|i) aligned with ``d``.  Replicates the
    reference's approximateBeta/computeH/computeP (TsneHelpers.scala:443-504)
    including the 1e-7 sum floor and the freeze-on-convergence semantics.
    """
    g = len(starts)
    beta = np.ones(g)
    lo = np.full(g, -np.inf)  # reference "min" bound, starts at -inf
    hi = np.full(g, np.inf)  # reference "max" bound
    done = np.zeros(g, dtype=bool)
    # segment ids per edge for bincount-based segment sums
    seg = np.repeat(np.arange(g), counts)

    def seg_sum(x: np.ndarray) -> np.ndarray:
        return np.add.reduceat(x, starts)

    for _ in range(_BISECTION_ITERS):
        if done.all():
            break
        p = np.exp(-d * beta[seg])
        sum_p = seg_sum(p)
        sum_p = np.where(sum_p == 0.0, 1e-7, sum_p)
        h = np.log(sum_p) + beta * seg_sum(d * p) / sum_p
        newly_done = np.abs(h - target_h) < _H_TOL
        active = ~done & ~newly_done
        done |= newly_done

        too_high = h - target_h > 0
        # entropy too high -> raise beta (narrower kernel): lo := beta,
        # beta := beta*2 while hi infinite, else midpoint.
        raise_b = active & too_high
        lower_b = active & ~too_high
        new_beta = beta.copy()
        new_beta[raise_b] = np.where(
            np.isinf(hi[raise_b]), beta[raise_b] * 2.0, (beta[raise_b] + hi[raise_b]) / 2.0
        )
        new_beta[lower_b] = np.where(
            np.isinf(lo[lower_b]), beta[lower_b] / 2.0, (beta[lower_b] + lo[lower_b]) / 2.0
        )
        lo[raise_b] = beta[raise_b]
        hi[lower_b] = beta[lower_b]
        beta = new_beta

    p = np.exp(-d * beta[seg])
    sum_p = seg_sum(p)
    sum_p = np.where(sum_p == 0.0, 1e-7, sum_p)
    return p / sum_p[seg]


def conditional_p(
    i: np.ndarray, j: np.ndarray, d: np.ndarray, target_h: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(i, j, P(j|i)) of (i, j, distance) edges holding whole groups,
    sorted by (i, j) — the same bits whichever kernel or batch runs it."""
    order = np.lexsort((j, i))
    i, j, d = i[order], j[order], d[order]
    if not len(i):
        return i, j, d
    starts = np.flatnonzero(np.r_[True, i[1:] != i[:-1]])
    counts = np.diff(np.r_[starts, len(i)])
    return i, j, _bisect_betas(d, starts, counts, target_h)


def symmetric_edges(i: np.ndarray, j: np.ndarray, p: np.ndarray):
    """Each P(j|i) as (i, j, p) and (j, i, p), summing to 2 * sum(p)."""
    return np.r_[i, j], np.r_[j, i], np.r_[p, p]


def pairwise_affinities(
    knn: DataFrame, perplexity: float, partials: Partials | None = None
) -> DataFrame:
    """(i, j, distance) kNN edges -> (i, j, P(j|i)); with ``partials``,
    the :func:`symmetric_edges`, each task adding its share of the total
    and its number of source points.

    Edges are shuffled once by ``i``; each partition is processed in a single
    vectorized bisection.  Safe because a hash partition contains every edge
    of each of its groups.  The shuffle has no fixed width, so AQE sizes the
    Python stage by bytes: the first task of each Python worker costs
    ~0.2-0.4 s before its UDF starts (BASELINE.md B94), and N·k edges are
    a few MB.
    """
    target_h = float(np.log(perplexity))

    def per_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        # A group's edges may span Arrow batches within the partition —
        # concatenate; partition size is bounded by the shuffle, each group is
        # only ~k edges.
        parts = [pdf for pdf in it if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        edges = conditional_p(
            pdf["i"].to_numpy(), pdf["j"].to_numpy(),
            pdf["v"].to_numpy(dtype=np.float64), target_h,
        )
        if partials is not None:
            partials.add(2.0 * float(edges[2].sum()), int(pdf["i"].nunique()))
            edges = symmetric_edges(*edges)
        yield pd.DataFrame(dict(zip("ijv", edges)))

    return knn.repartition("i").mapInPandas(
        per_partition, schema="i int, j int, v double"
    )


def joint_sums(edges: DataFrame) -> DataFrame:
    """One (i, j, sum v) row per pair, behind one exchange: hashing on i
    also clusters (i, j), so neither the sum nor a later group by i
    shuffles again."""
    return edges.repartition("i").groupBy("i", "j").agg(F.sum("v").alias("v"))


def joint_distribution(affinities: DataFrame) -> DataFrame:
    """Symmetrize and normalize: P(ij) = (P(j|i) + P(i|j)) / sum_all.

    Both directions from one projection (the input runs once), then
    :func:`joint_sums` and a broadcast of the 1-row global sum (the
    reference's mapWithBcVariable, TsneHelpers.scala:191-195).
    """
    both = affinities.select(F.explode(F.array(
        F.struct("i", "j", "v"),
        F.struct(F.col("j").alias("i"), F.col("i").alias("j"), "v"),
    )).alias("e")).select("e.*")
    joint = joint_sums(both)
    total = joint.agg(
        F.greatest(F.sum("v"), F.lit(_EPS_FLOOR)).alias("__sum_p")
    )
    return joint.crossJoin(F.broadcast(total)).select(
        "i",
        "j",
        F.greatest(F.col("v") / F.col("__sum_p"), F.lit(_EPS_FLOOR)).alias("v"),
    )
