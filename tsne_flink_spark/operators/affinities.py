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
by overhead at millions of groups), edges are hash-partitioned by ``i`` and
each partition's groups are bisected *simultaneously* in one vectorized numpy
loop (segment sums via ``np.add.reduceat``).  50 iterations over all groups in
a partition = 50 numpy passes total, not 50 x n_groups Python calls.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    ends = starts + counts

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


def pairwise_affinities(knn: DataFrame, perplexity: float) -> DataFrame:
    """(i, j, distance) kNN edges -> (i, j, P(j|i)).

    Edges are shuffled once by ``i``; each partition is processed in a single
    vectorized bisection.  Safe because a hash partition contains every edge
    of each of its groups.  The shuffle has no fixed width, so AQE sizes the
    Python stage by bytes: each Python task costs ~0.2-0.4 s before its UDF
    starts (BASELINE.md B94), and N·k edges are a few MB.
    """
    target_h = float(np.log(perplexity))

    def per_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # A group's edges may span Arrow batches within the partition —
        # concatenate; partition size is bounded by the shuffle, each group is
        # only ~k edges.
        parts = [pdf for pdf in it if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        pdf = pdf.sort_values(["i", "j"], kind="stable", ignore_index=True)
        i_arr = pdf["i"].to_numpy()
        d = pdf["v"].to_numpy(dtype=np.float64)
        change = np.flatnonzero(np.diff(i_arr)) + 1
        starts = np.concatenate([[0], change])
        counts = np.diff(np.concatenate([starts, [len(i_arr)]]))
        p = _bisect_betas(d, starts, counts, target_h)
        yield pd.DataFrame({"i": i_arr, "j": pdf["j"].to_numpy(), "v": p})

    return (
        knn.repartition("i")
        .mapInPandas(per_partition, schema="i int, j int, v double")
    )


def joint_distribution(affinities: DataFrame) -> DataFrame:
    """Symmetrize and normalize: P(ij) = (P(j|i) + P(i|j)) / sum_all.

    Pure DataFrame ops: transpose-project, bag union, group-sum, then a
    broadcast of the 1-row global sum (the reference's mapWithBcVariable,
    TsneHelpers.scala:191-195).
    """
    transposed = affinities.select(
        F.col("j").alias("i"), F.col("i").alias("j"), F.col("v")
    )
    joint = (
        affinities.unionByName(transposed)
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
    )
    total = joint.agg(
        F.greatest(F.sum("v"), F.lit(_EPS_FLOOR)).alias("__sum_p")
    )
    return joint.crossJoin(F.broadcast(total)).select(
        "i",
        "j",
        F.greatest(F.col("v") / F.col("__sum_p"), F.lit(_EPS_FLOOR)).alias("v"),
    )
