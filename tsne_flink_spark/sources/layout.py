"""Multi-dimensional data layout: Z-/Hilbert-ordered parquet writes.

Partition pruning and parquet row-group skipping act on per-file /
per-row-group MIN/MAX statistics.  A table sorted on ONE column prunes
beautifully on that column and not at all on any other; interleaving the
bit planes of SEVERAL columns into one space-filling-curve key and
sorting by it makes the min/max ranges of EVERY interleaved column
narrow in every file — the technique behind Delta Lake's ``ZORDER BY``
(public Databricks/Delta documentation) and query-engine data skipping
generally.

Reuses the kNN module's curve kernel (``operators.knn.space_filling_key``
— 16-bit quantization, msb-first bit-plane interleave, Hilbert option for
better locality), so the layout writer and the approximate-kNN operator
share one audited implementation.

Scale notes: the key is computed in one Arrow-batched pass, the sort is
one ``repartitionByRange`` shuffle (Spark samples range boundaries), and
the write streams partition-by-partition — no driver materialization.
BASELINE.md B28 measures the skipping effect on real parquet row-group
statistics.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zorder_key(df: DataFrame, cols: list[str], curve: str = "hilbert",
               bits: int = 16) -> DataFrame:
    """Append the sortable BINARY curve key ``__z`` over ``cols`` (numeric
    columns, min-max quantized per column from one bounds aggregate)."""
    from tsne_flink_spark.operators.knn import space_filling_key

    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).first()
    mins = np.array([bounds[f"mn_{c}"] for c in cols], dtype=np.float64)
    maxs = np.array([bounds[f"mx_{c}"] for c in cols], dtype=np.float64)
    with_features = df.withColumn(
        "features", F.array(*[F.col(c).cast("double") for c in cols])
    )
    return space_filling_key(
        with_features, mins, maxs, curve=curve, bits=bits
    ).drop("features")


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    curve: str = "hilbert",
    n_files: int = 16,
    bits: int = 16,
    compression: str = "zstd",
    partition_by: list[str] | None = None,
) -> None:
    """Write ``df`` as parquet clustered on the space-filling key of
    ``cols``: range-partitioned into ``n_files`` files, sorted within each
    — every file's min/max stats are tight on all of ``cols`` at once, so
    a reader's predicate on ANY of them skips most files/row groups.

    With ``partition_by``, the layout nests inside a hive partitioning
    (Delta's ``ZORDER BY`` within partitions): the range shuffle keys on
    (partition cols, curve key), so each output task holds one contiguous
    slice of one-or-few partition directories, sorted by the curve — file
    counts stay ~``n_files`` total and every directory's files are
    curve-clustered.  The curve key quantizes against GLOBAL bounds (one
    aggregate); per-partition bounds would sharpen skipping slightly but
    cost a bounds pass per partition value.
    """
    keyed = zorder_key(df, cols, curve=curve, bits=bits)
    parts = [F.col(c) for c in (partition_by or [])]
    writer = (
        keyed.repartitionByRange(n_files, *parts, F.col("__z"))
        .sortWithinPartitions(*parts, "__z")
        .drop("__z")
        .write.mode("overwrite")
        .option("compression", compression)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
