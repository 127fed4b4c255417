"""The d=2 cases of the Barnes-Hut tree's build-equivalence checks: the
reference's quadtree (QuadTree.scala:50-63 insert/subdivide) is NDTree at
d=2.  The bodies live in tests/test_ndtree.py, which runs the same checks
at d=3; these keep the 2-D cases under their original names.

The capacity-1 tree's structure depends only on the point SET, so the
vectorized bulk build must reproduce the sequentially inserted tree node
for node, with aggregate sums equal up to FP summation order.
"""

from tests.test_ndtree import (
    check_bulk_build_equals_insert,
    check_depth_exhaustion,
    check_split_reseats_full_coincident_weight,
)


def test_sequential_split_reseats_full_coincident_weight():
    check_split_reseats_full_coincident_weight(2)


def test_bulk_build_equals_sequential_insert():
    check_bulk_build_equals_insert(2, seed=37)


def test_depth_exhaustion_terminal_leaf():
    check_depth_exhaustion(2)
