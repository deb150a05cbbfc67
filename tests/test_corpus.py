"""Corpus-shaping operators (operators/corpus.py): NULL-safe stratified
caps."""

from __future__ import annotations

from pyspark.sql import Window, functions as F


def _naive_cap(df, strata, id_col, cap, salt="cap"):
    rank_key = F.md5(F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def test_stratified_cap_null_stratum(spark):
    """A NULL stratum value (undetected language) is a first-class capped
    partition, not silently dropped: the pre-r5 inner equi-joins on the
    strata columns never matched NULL keys, losing every NULL-stratum row
    (ADVICE r4, medium). The null-safe form must match the naive window
    exactly — including a HOT null stratum that exercises the threshold
    prefilter, not just the short-stratum fallback."""
    from tab2neo_spark.operators.corpus import stratified_cap

    rows = [(f"d{i}", "en" if i % 3 else None) for i in range(3000)]
    rows += [(f"x{i}", "fr") for i in range(2)]
    df = spark.createDataFrame(rows, "id string, s string")
    for cap in (1, 5, 40):
        got = sorted(map(tuple, stratified_cap(df, ["s"], "id", cap=cap).collect()))
        exp = sorted(map(tuple, _naive_cap(df, ["s"], "id", cap).collect()))
        assert got == exp, f"cap={cap}: {len(got)} vs {len(exp)} rows"
        n_null = sum(1 for _, s in got if s is None)
        assert n_null == min(cap, 1000), n_null  # null stratum present+capped

    # multi-column strata with a null in one component
    df2 = spark.createDataFrame(
        [(f"d{i}", "web", None if i % 2 else "en") for i in range(200)]
        + [(f"e{i}", None, None) for i in range(50)],
        "id string, src string, lang string",
    )
    got = sorted(
        map(tuple, stratified_cap(df2, ["src", "lang"], "id", cap=7).collect())
    )
    exp = sorted(map(tuple, _naive_cap(df2, ["src", "lang"], "id", 7).collect()))
    assert got == exp and len(got) == 21  # 3 strata x 7


def test_stratified_cap_nullsafe_still_broadcasts(spark):
    """The eqNullSafe rewrite must not cost the broadcast: <=> is still
    an equi-join predicate, so both threshold joins plan as
    BroadcastHashJoin — a SortMergeJoin here would shuffle the corpus
    twice against a metadata-scale side."""
    from tab2neo_spark.operators.corpus import stratified_cap

    df = spark.createDataFrame(
        [(f"d{i}", "en" if i % 4 else None) for i in range(400)],
        "id string, s string",
    )
    plan = (
        stratified_cap(df, ["s"], "id", cap=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
