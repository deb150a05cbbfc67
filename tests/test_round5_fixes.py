"""Round-5 fixes: NULL-stratum stratified_cap (ADVICE r4 medium),
exact-recall SimHash blocking (VERDICT r4 Next-round #4), streaming
decontam cache release.
"""

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


def test_simhash_blocking_exact_recall_planted_pair(spark):
    """Pigeonhole completeness: a hamming-2 pair whose differing bits
    straddle BOTH halves of the old 2-block scheme (bits 3 and 12 of a
    16-bit fingerprint) is invisible to 2 blocks but must be found by the
    default max_hamming+1 = 3 blocks."""
    from tab2neo_spark.operators.dedup import simhash_pairs_from_fps

    fps = spark.createDataFrame(
        [(1, 0x0008), (2, 0x1000), (3, 0x7777)], "doc_id long, simhash long"
    )
    found = simhash_pairs_from_fps(fps, "doc_id", bits=16, max_hamming=2)
    assert [(r["a"], r["b"], r["hamming"]) for r in found.collect()] == [(1, 2, 2)]
    # the old 2-block form misses it — documents the closed gap
    missed = simhash_pairs_from_fps(
        fps, "doc_id", bits=16, max_hamming=2, n_blocks=2
    )
    assert missed.count() == 0


def test_simhash_blocking_matches_exhaustive(spark):
    """Blocked candidate generation == brute-force all-pairs filter on a
    deterministic fingerprint population, for d = 1, 2, 3."""
    from tab2neo_spark.operators.dedup import simhash_pairs_from_fps

    # deterministic pseudo-random 16-bit fingerprints with planted clumps
    vals = [(i, (i * 2654435761) % 65536) for i in range(40)]
    vals += [(100 + i, (vals[i][1] ^ (1 << (i % 16)) ^ (1 << ((i * 7) % 16))))
             for i in range(10)]
    fps = spark.createDataFrame(vals, "doc_id long, simhash long")
    rows = dict(vals)
    for d in (1, 2, 3):
        exp = sorted(
            (a, b, bin(rows[a] ^ rows[b]).count("1"))
            for a in rows
            for b in rows
            if a < b and bin(rows[a] ^ rows[b]).count("1") <= d
        )
        got = sorted(
            map(
                tuple,
                simhash_pairs_from_fps(
                    fps, "doc_id", bits=16, max_hamming=d
                ).collect(),
            )
        )
        assert got == exp, f"d={d}: {len(got)} vs {len(exp)}"


def test_simhash_block_widths():
    from tab2neo_spark.operators.dedup import simhash_block_widths

    assert simhash_block_widths(16, 3) == [6, 5, 5]
    assert simhash_block_widths(16, 2) == [8, 8]
    assert simhash_block_widths(64, 4) == [16, 16, 16, 16]
    assert sum(simhash_block_widths(64, 5)) == 64


def test_shuffle_partitions_for():
    from tab2neo_spark.session import shuffle_partitions_for

    assert shuffle_partitions_for(10_000_000 * 40) == 200  # the 10M-page chain
    assert shuffle_partitions_for(100) == 8  # floor
    assert shuffle_partitions_for(30_000_001) == 16  # rounds UP past floor
    assert shuffle_partitions_for(0) == 8


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


def test_co_mention_and_triangles(spark):
    """Co-mention projection pairs entities in-row (a<b, page-count
    weights); triangle counts enumerate each triangle once and credit
    all three nodes."""
    from tab2neo_spark.kg.analytics import co_mention_edges, triangle_counts

    triples = spark.createDataFrame(
        [
            ("p1", "MENTIONS", "A"), ("p1", "MENTIONS", "B"),
            ("p1", "MENTIONS", "C"),
            ("p2", "MENTIONS", "A"), ("p2", "MENTIONS", "B"),
            ("p3", "MENTIONS", "D"),              # singleton page: no pairs
            ("A", "IS_A", "Cls"),                  # non-mention pred ignored
        ],
        "subj string, pred string, obj string",
    )
    edges = {(r["a"], r["b"]): r["weight"]
             for r in co_mention_edges(triples).collect()}
    assert edges == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1}

    tri = {r["id"]: r["n_triangles"]
           for r in triangle_counts(co_mention_edges(triples)).collect()}
    assert tri == {"A": 1, "B": 1, "C": 1}  # one triangle, all three credited

    # unordered/duplicate input edges canonicalize before enumeration
    e2 = spark.createDataFrame(
        [("b", "a"), ("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "a string, b string",
    )
    tri2 = {r["id"]: r["n_triangles"] for r in triangle_counts(e2).collect()}
    assert tri2 == {"a": 1, "b": 1, "c": 1}
