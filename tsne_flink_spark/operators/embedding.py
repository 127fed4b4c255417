"""Working-set lifecycle: init, momentum/gain update, centering.

All math is Column-expression ``zip_with``/``transform`` chains over
ARRAY<DOUBLE> — whole-stage codegen, no Python in the hot path — except
:func:`update_arrays`, the update's NumPy twin for state the optimizer
keeps on the driver.

Reference: TsneHelpers.scala:198-218 (init), :341-368 (update),
:320-339 (centering).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def init_working_set(
    points: DataFrame, n_components: int = 2, random_state: int = 0
) -> DataFrame:
    """(id, ...) -> (id, y, grad, gains): y ~ N(0, 1e-4), grad=0, gains=1.

    The reference accepts ``randomState`` but never seeds its RNG (quirk Q4,
    TsneHelpers.scala:204-212); here ``F.randn(seed)`` makes the init
    reproducible for a fixed partitioning.
    """
    y = F.array(
        *[F.randn(random_state + c) * F.lit(1e-4) for c in range(n_components)]
    )
    zeros = F.array(*[F.lit(0.0)] * n_components)
    ones = F.array(*[F.lit(1.0)] * n_components)
    return points.select(
        F.col("id"), y.alias("y"), zeros.alias("grad"), ones.alias("gains")
    )


def update_embedding(
    gradient: DataFrame,
    working_set: DataFrame,
    min_gain: float = 0.01,
    momentum: float = 0.5,
    learning_rate: float = 1000.0,
) -> DataFrame:
    """One momentum + adaptive-gain gradient-descent step.

    Per component c (TsneHelpers.scala:357-366):
      gain'  = max(gain*0.8, min_gain)  if sign(dY)==sign(prevGrad) else
               max(gain+0.2, min_gain)
      grad'  = momentum*prevGrad - lr*gain'*dY
      y'     = y + grad'

    The sign test is the reference's ``(g > 0) == (pg > 0)`` (zero counts as
    non-positive).  The step itself is :func:`update_step`, which the fused
    optimizer loop runs directly on its pass output; here the gradient is
    joined onto the working set by id first.
    """
    joined = gradient.select(F.col("id"), F.col("dy")).join(working_set, "id")
    step = update_step(F.col("dy"), ["id"], min_gain, momentum, learning_rate)
    return step(joined)


def update_step(
    dy: Column,
    keep: list[str],
    min_gain: float,
    momentum: float,
    learning_rate: float,
) -> Callable[[DataFrame], DataFrame]:
    """The update as a narrow projection, ``df -> keep + (y, grad, gains)``,
    over rows that carry ``y``/``grad``/``gains`` and whatever ``dy``
    reads.  The zip_with chains are built once and reused by every call:
    each lambda costs several driver round trips to build."""
    same_sign = F.zip_with(
        F.col("__dy"),
        F.col("grad"),
        lambda c, p: ((c > F.lit(0.0)) == (p > F.lit(0.0))).cast("double"),
    )
    new_gains = F.zip_with(
        same_sign,
        F.col("gains"),
        lambda s, gain: F.greatest(
            F.when(s > F.lit(0.5), gain * F.lit(0.8)).otherwise(gain + F.lit(0.2)),
            F.lit(float(min_gain)),
        ),
    )
    # grad' = momentum*prev - lr*gain'*dy, built as two zips
    step = F.zip_with(
        F.col("__new_gains"),
        F.col("__dy"),
        lambda gain, c: F.lit(-float(learning_rate)) * gain * c,
    )
    new_grad = F.zip_with(
        F.transform(F.col("grad"), lambda p: F.lit(float(momentum)) * p),
        step,
        lambda a, b: a + b,
    )
    new_y = F.zip_with(F.col("__new_grad"), F.col("y"), lambda a, b: a + b)
    head = [*keep, "y", "grad", "gains", dy.alias("__dy")]
    out = [
        *keep,
        new_y.alias("y"),
        F.col("__new_grad").alias("grad"),
        F.col("__new_gains").alias("gains"),
    ]

    def apply(df: DataFrame) -> DataFrame:
        return (
            df.select(*head)
            .withColumn("__new_gains", new_gains)
            .withColumn("__new_grad", new_grad)
            .select(*out)
        )

    return apply


def update_arrays(
    y: np.ndarray,
    grad: np.ndarray,
    gains: np.ndarray,
    dy: np.ndarray,
    min_gain: float,
    momentum: float,
    learning_rate: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`update_step` on NumPy arrays: the new ``(y, grad, gains)``,
    bit-identical to the projection (same operations in the same order)."""
    same_sign = (dy > 0.0) == (grad > 0.0)
    gains = np.maximum(np.where(same_sign, gains * 0.8, gains + 0.2), min_gain)
    grad = momentum * grad + -float(learning_rate) * gains * dy
    return grad + y, grad, gains


def _center(df: DataFrame, vec_col: str, n_components: int) -> DataFrame:
    means = df.agg(
        F.array(
            *[F.avg(F.col(vec_col)[c]) for c in range(n_components)]
        ).alias("__mean")
    )
    centered = F.zip_with(F.col(vec_col), F.col("__mean"), lambda a, b: a - b)
    out_cols = [
        centered.alias(vec_col) if c == vec_col else F.col(c) for c in df.columns
    ]
    return df.crossJoin(F.broadcast(means)).select(*out_cols)


def center_embedding(working_set: DataFrame, n_components: int = 2) -> DataFrame:
    """Subtract the mean embedding; runs every iteration
    (TsneHelpers.scala:320-329).  Global agg -> 1-row broadcast."""
    return _center(working_set, "y", n_components)


def center_input(points: DataFrame, n_components: int | None = None) -> DataFrame:
    """Center (id, features) points.  Dead code in the reference
    (quirk Q9, TsneHelpers.scala:331-339) — implemented as public surface."""
    if n_components is None:
        n_components = len(points.select("features").head()["features"])
    return _center(points, "features", n_components)
