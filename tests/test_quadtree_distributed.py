"""The d=2 cases of the Barnes-Hut tree's build-equivalence checks: the
reference's quadtree (QuadTree.scala:50-63 insert/subdivide) is NDTree at
d=2.  The bodies live in tests/test_ndtree.py, which runs the same checks
at d=3; these keep the 2-D cases under their original names.

The capacity-1 tree's structure depends only on the point SET, so
partition-wise builds merged via ``merge_ndtrees`` (and the distributed
build that uses it) must reproduce the sequentially built tree node for
node, with aggregate sums equal up to FP summation order.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.test_ndtree import (
    check_bulk_build_equals_insert,
    check_depth_exhaustion,
    check_distributed_build_empty,
    check_distributed_build_matches_driver,
    check_merge_equals_sequential,
    check_merge_property,
    check_merge_with_coincident_points,
    check_split_reseats_full_coincident_weight,
)


def test_merge_equals_sequential_random():
    check_merge_equals_sequential(2)


def test_merge_with_coincident_points():
    check_merge_with_coincident_points(2)


def test_sequential_split_reseats_full_coincident_weight():
    check_split_reseats_full_coincident_weight(2)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=120),
    dup_every=st.integers(min_value=2, max_value=6),
    n_blocks=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_merge_equivalence_property(n, dup_every, n_blocks, seed):
    check_merge_property(2, n, dup_every, n_blocks, seed)


def test_distributed_build_matches_driver(spark):
    check_distributed_build_matches_driver(spark, 2)


def test_distributed_build_empty(spark):
    check_distributed_build_empty(spark, 2)


def test_bulk_build_equals_sequential_insert():
    check_bulk_build_equals_insert(2, seed=37)


def test_depth_exhaustion_terminal_leaf():
    check_depth_exhaustion(2)
