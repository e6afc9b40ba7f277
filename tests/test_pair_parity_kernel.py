"""The decimal12 pair-dot kernel against its expression on the named
case groups of the vector-math parity table (the cases and the check
live in test_cell_parity_kernel.py): random and adversarial pairs,
decimal overflow raising in both forms, and a NaN product before an
overflow NULLing the fold in both forms."""

from __future__ import annotations

from test_cell_parity_kernel import check_named


def test_pair_dot_parity_random_and_adversarial(spark):
    check_named(spark, "test_pair_dot_parity_random_and_adversarial")


def test_pair_dot_overflow_raises_both(spark):
    check_named(spark, "test_pair_dot_overflow_raises_both")


def test_pair_dot_nan_after_overflowing_prefix_is_null_both(spark):
    check_named(
        spark, "test_pair_dot_nan_after_overflowing_prefix_is_null_both"
    )
