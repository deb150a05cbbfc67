"""Gated query paths (``__spark_entry__.queries()``) on inputs the TPC-H
gate data never holds."""

from __future__ import annotations


def test_approx_stats_keeps_null_and_partless_groups(spark, tmp_path):
    """The split-out distinct count joins back NULL-safe and LEFT: a NULL
    return flag stays its own group, and a group whose part keys are all
    NULL reports n_parts = 0 instead of vanishing."""
    import __spark_entry__ as e

    rows = [("A", 1, 10.0), ("A", 2, 20.0), ("A", 2, 30.0),
            (None, 1, 5.0), (None, 3, 6.0),
            ("X", None, 7.0), ("X", None, 8.0)]
    spark.createDataFrame(
        rows, "l_returnflag string, l_partkey long, l_extendedprice double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = e.queries()["approx_stats"](spark, str(tmp_path))
    got = {r["l_returnflag"]: (r["n_parts"], r["distinct_ok"]) for r in out.collect()}
    assert got == {"A": (2, True), None: (2, True), "X": (0, True)}
