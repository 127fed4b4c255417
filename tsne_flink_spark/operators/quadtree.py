"""The 2-D Barnes-Hut quadtree is :class:`~tsne_flink_spark.operators.ndtree.NDTree`
at d=2 (the reference's QuadTree.scala semantics and quirks are recorded in
operators/ndtree.py).  ``build_quadtree`` remains as an alias of
``build_ndtree`` for callers that still import it by this name."""

from tsne_flink_spark.operators.ndtree import build_ndtree as build_quadtree

__all__ = ["build_quadtree"]
