"""Gated query paths (``__spark_entry__.queries()``) on inputs the TPC-H
gate data never holds, and rewritten paths against their original form."""

from __future__ import annotations

from pyspark.sql import functions as F


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


def test_window_top1_maxby_equals_window_form(spark, sf_dir):
    """The max_by rewrite of the top-order-per-customer query must equal
    the original row_number-over-window form row for row."""
    import __spark_entry__ as e
    from pyspark.sql import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    ref = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey",
                F.round("o_totalprice", 2).alias("top_price"))
    )
    out = e.queries()["window_top1"](spark, sf_dir)
    key = lambda r: r["o_custkey"]  # noqa: E731
    assert sorted(map(tuple, out.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, ref.collect()), key=lambda t: t[0]
    )
