"""Driver-loop optimizer: the Spark substitute for Flink bulk iteration.

Flink iterates inside the cluster with superstep barriers
(TsneHelpers.scala:371-394); Spark's idiom is a driver-side loop with
per-iteration materialization.  ``localCheckpoint(eager=True)`` after each
step truncates lineage (without it the plan doubles per iteration) and plays
the role of the feedback edge.  sumQ and the loss travel in an accumulator,
as the reference's loss does (MapAccumulator.java:27-77), keyed by partition
id so a retried task cannot count twice (operators/partials.py).

One iteration shape for every ``tree_build`` (operators/gradient.py):

1. the centring mean and the repulsion source: where the driver builds the
   tree (auto below the summary regime, theta 0, and wherever the summary
   plan declines) it centres Y and broadcasts the tree with the ids and
   the centred Y; the summary regime keeps Y off the driver and takes the
   mean from a bounds aggregate;
2. one ``mapInArrow`` pass that computes repulsion, attraction (each row
   carries its P row, attached once per call) and ``sumq``; its tasks'
   partials give sumQ and the loss without another job;
3. the momentum/gain update with sumQ as a scalar.

The two regimes keep the optimizer state in different places.  The driver
build holds Y anyway, so it keeps the whole state — ids, y, grad and
gains, (8 + 24d) B/point — as NumPy arrays, collected once per call: each
iteration is ONE Spark job, the kernel over the checkpointed P rows,
whose (id, attr, rep, sumq) come back through Arrow, and the update runs
in NumPy (``embedding.update_arrays``, bit-identical to the projection).
The call returns its state as a local (id, y, grad, gains) frame, so
collecting it runs no job.  The summary regime keeps the state in the
rows: each iteration materializes its pass and leaves the update a lazy
projection (``embedding.update_step``) that the next pass reads through;
it adds the bounds aggregate and cogroup, gathers each row's neighbour
coordinates by a join on the P edges instead of a Y broadcast, and ends
with one mean aggregate.  Centring happens at the start of the next
iteration, and once more when a call returns, so every returned working
set is centred; the first iteration of a call evaluates the caller's
working set as given, as the reference's gradient-update-centre order
does.

Three-phase schedule replicated exactly (quirk Q8, TsneHelpers.scala:403-427):
first min(n, 20) iterations at initial momentum with exaggerated P, next
min(n-20, 81) at final momentum with exaggerated P, remainder at final
momentum with plain P.  Exaggeration is a scalar factor in the kernel, so
all phases share one P layout.  The loss on exaggerated phases is computed
against the exaggerated P, as the reference does.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tsne_flink_spark.operators import gradient
from tsne_flink_spark.operators.embedding import update_arrays, update_step
from tsne_flink_spark.operators.gradient import (
    _list_column,
    attach_p,
    by_id,
    check_tree_build,
    dy,
    fused_pass,
    resolve_tree_build,
    shifted_y,
    sum_q_and_loss,
)
from tsne_flink_spark.operators.partials import Partials

MIN_GAIN = 0.01
LOSS_EVERY = 10


def materialize(df: DataFrame) -> DataFrame:
    """Materialize a DataFrame and truncate BOTH lineage and statistics.

    ``localCheckpoint(eager=True)`` truncates lineage but the resulting
    LogicalRDD *propagates the origin plan's estimated statistics*.  In an
    iterative loop the size estimate then compounds hyper-exponentially
    (measured: sizeInBytes bit-length x3 per iteration) until Catalyst's
    stats visitor grinds on million-digit BigInt multiplications.  Rebuilding
    the DataFrame from the checkpointed internal RDD resets stats to the
    session default.  Falls back to the plain checkpoint if the internal
    constructor is unavailable.
    """
    cp = df.localCheckpoint(eager=True)
    try:
        jdf = cp._jdf
        jrdd = jdf.queryExecution().toRdd()
        jspark = df.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(jrdd, jdf.schema(), False)
        return DataFrame(new_jdf, df.sparkSession)
    except Exception:  # pragma: no cover - Connect / future-Spark fallback
        return cp


def _descend(
    working_set: DataFrame,
    p_coo: DataFrame,
    phases: list,
    iter_offset: int,
    loss_sink: list | None,
    metric: str,
    learning_rate: float,
    theta: float,
    n_components: int,
    bh_condition: str,
    tree_build: str,
    n: int | None,
    p_partials: Partials | None = None,
) -> DataFrame:
    """P attached to the rows once, then (count, momentum, exaggeration)
    ``phases`` of fused steps; returns the rows centred.  N (``n``, or
    ``p_partials``') picks "auto"'s repulsion source, counted if unknown."""
    rows = materialize(attach_p(working_set, p_coo))
    p_total, n = (1.0, n) if p_partials is None else p_partials.totals()
    tree_build = resolve_tree_build(
        tree_build, theta, n_components, rows.count if n is None else lambda: n
    )
    descend = _descend_on_driver if tree_build == "driver" else _descend_in_frame
    return descend(
        rows, [ph for ph in phases if ph[0] > 0], iter_offset, loss_sink,
        learning_rate,
        dict(theta=theta, n_components=n_components, metric=metric,
             bh_condition=bh_condition, tree_build=tree_build,
             p_total=p_total),
    )


def _descend_on_driver(
    rows: DataFrame,
    phases: list,
    iter_offset: int,
    loss_sink: list | None,
    learning_rate: float,
    pass_args: dict,
) -> DataFrame:
    """The driver build's loop.  The driver builds every tree from Y, so it
    keeps the whole (ids, y, grad, gains) state, collected once; each step
    is one job, the kernel over the P rows returning (id, attr, rep, sumq)
    through Arrow, and the update runs in NumPy."""
    d = pass_args["n_components"]
    # through the module, where the keep-Y-off-the-driver guards patch it
    ids, Y, grad, gains = gradient.collect_y(rows, d, ("y", "grad", "gains"))
    p_rows = rows.select("id", "js", "vs")
    it = iter_offset
    for count, momentum, exaggeration in phases:
        for _ in range(count):
            it += 1
            if it > iter_offset + 1:
                Y = _centred(Y)
            kern, _, partials = fused_pass(
                p_rows, exaggeration=exaggeration, held=(ids, Y), **pass_args
            )
            _, attr, rep = by_id(kern.toArrow(), ("attr", "rep"), d)
            sum_q, loss = sum_q_and_loss(partials)
            Y, grad, gains = update_arrays(
                Y, grad, gains, attr - rep / sum_q, MIN_GAIN, momentum,
                learning_rate,
            )
            if loss_sink is not None and it % LOSS_EVERY == 0:
                loss_sink.append((it, loss))
    state = pa.table({
        "id": ids, "y": _list_column(_centred(Y)),
        "grad": _list_column(grad), "gains": _list_column(gains),
    })
    schema = StructType([rows.schema[c] for c in ("id", "y", "grad", "gains")])
    return rows.sparkSession.createDataFrame(state, schema)


def _centred(Y: np.ndarray) -> np.ndarray:
    return Y - Y.mean(axis=0) if len(Y) else Y


def _descend_in_frame(
    rows: DataFrame,
    phases: list,
    iter_offset: int,
    loss_sink: list | None,
    learning_rate: float,
    pass_args: dict,
) -> DataFrame:
    """The summary regime's loop, with Y kept off the driver: the state
    stays in the rows; each step materializes its pass, and the update is
    a lazy projection over it."""
    it = iter_offset
    for count, momentum, exaggeration in phases:
        update = update_step(
            dy(F.col("__sum_q")), ["id", "js", "vs"], MIN_GAIN, momentum,
            learning_rate,
        )
        for _ in range(count):
            it += 1
            kern, _, partials = fused_pass(
                rows, exaggeration=exaggeration, centre=it > iter_offset + 1,
                **pass_args,
            )
            # materialize + truncate lineage and stats: the kernel runs once,
            # and the next iteration reads cached partitions
            kern = materialize(kern)
            sum_q, loss = sum_q_and_loss(partials)
            # the update stays a lazy projection over the materialized pass:
            # the next iteration's pass reads through it
            rows = update(kern.withColumn("__sum_q", F.lit(sum_q)))
            if loss_sink is not None and it % LOSS_EVERY == 0:
                loss_sink.append((it, loss))
    # centred by the mean of the last update (one aggregate)
    d = pass_args["n_components"]
    means = rows.agg(*[F.avg(F.col("y")[k]) for k in range(d)]).first()
    mean = np.array([0.0 if m is None else m for m in means])
    return rows.select("id", shifted_y(mean).alias("y"), "grad", "gains")


def iteration_computation(
    iterations: int,
    momentum: float,
    working_set: DataFrame,
    p_coo: DataFrame,
    metric: str = "sqeuclidean",
    learning_rate: float = 1000.0,
    theta: float = 0.0,
    n_components: int = 2,
    iter_offset: int = 0,
    loss_sink: list | None = None,
    bh_condition: str = "reference",
    tree_build: str = "auto",
    n_hint: int | None = None,
) -> DataFrame:
    """Run ``iterations`` gradient-descent steps from the (id, y, grad,
    gains) ``working_set``; returns the same shape, centred.

    Mirrors TsneHelpers.iterationComputation (TsneHelpers.scala:371-394);
    the superstep number is 1-based, so global iteration = iter_offset + step.
    Appends (iteration, loss) tuples to ``loss_sink`` every 10th iteration.
    ``n_hint`` is the row count, if known ("auto" counts it otherwise).
    """
    check_tree_build(tree_build)
    if iterations <= 0:
        return working_set
    return _descend(
        working_set, p_coo, [(iterations, momentum, 1.0)], iter_offset,
        loss_sink, metric, learning_rate, theta, n_components, bh_condition,
        tree_build, n_hint,
    )


def optimize(
    p_coo: DataFrame,
    initial_working_set: DataFrame,
    learning_rate: float = 1000.0,
    iterations: int = 300,
    metric: str = "sqeuclidean",
    early_exaggeration: float = 4.0,
    initial_momentum: float = 0.5,
    final_momentum: float = 0.8,
    theta: float = 0.0,
    n_components: int = 2,
    loss_sink: list | None = None,
    bh_condition: str = "reference",
    tree_build: str = "auto",
    p_partials: Partials | None = None,
) -> DataFrame:
    """Full three-phase optimization; returns the final (id, y) embedding.
    ``p_coo`` is a joint P, or the symmetric edges of P kernels that fed
    ``p_partials`` (P's total and N, read once the rows materialize)."""
    check_tree_build(tree_build)
    if iterations <= 0:
        return initial_working_set.select("id", "y")
    iter_init = min(iterations, 20)
    iter_exag = min(iterations - iter_init, 101 - 20)
    phases = [
        (iter_init, initial_momentum, early_exaggeration),
        (iter_exag, final_momentum, early_exaggeration),
        (iterations - iter_exag - iter_init, final_momentum, 1.0),
    ]
    return _descend(
        initial_working_set, p_coo, phases, 0, loss_sink, metric,
        learning_rate, theta, n_components, bh_condition, tree_build, None,
        p_partials,
    ).select("id", "y")
