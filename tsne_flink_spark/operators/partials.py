"""Global scalars from the tasks that compute them, with no job of their own.

The reference reports its loss through an accumulator (MapAccumulator.java).
``Partials`` keys one by the adding task's partition id: each task adds its
partial sums once, the merge overwrites by key (a re-run or retried task
replaces its entry), and the driver sums the entries in partition order.
One ``Partials`` must be fed by one stage: a kernel planned under two
branches (a union renumbers partition ids) would count twice.
"""

from __future__ import annotations

from pyspark import AccumulatorParam, TaskContext


class _Overwrite(AccumulatorParam):
    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


class Partials:
    """``width`` sums per partition: ``add`` in a task, ``totals`` on the
    driver once the adding job has finished."""

    def __init__(self, sc, width: int):
        self._acc, self._width = sc.accumulator({}, _Overwrite()), width

    def add(self, *values) -> None:
        self._acc.add({TaskContext.get().partitionId(): values})

    def totals(self) -> list:
        parts, out = self._acc.value, [0] * self._width
        for p in sorted(parts):
            out = [a + b for a, b in zip(out, parts[p])]
        return out
