from tsne_flink_spark.functions.metrics import (
    METRICS,
    cosine,
    euclidean,
    metric_expr,
    numpy_metric,
    sqeuclidean,
)

__all__ = [
    "METRICS",
    "cosine",
    "euclidean",
    "metric_expr",
    "numpy_metric",
    "sqeuclidean",
]
