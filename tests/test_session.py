"""Session sizing helpers (session.py)."""

from __future__ import annotations


def test_shuffle_partitions_for():
    from tab2neo_spark.session import shuffle_partitions_for

    assert shuffle_partitions_for(10_000_000 * 40) == 200  # the 10M-page chain
    assert shuffle_partitions_for(100) == 8  # floor
    assert shuffle_partitions_for(30_000_001) == 16  # rounds UP past floor
    assert shuffle_partitions_for(0) == 8
