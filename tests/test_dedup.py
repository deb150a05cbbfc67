"""Near-duplicate and repeated-span operators (operators/dedup.py): exact
repeated n-gram spans, SimHash blocking, and the MinHash signature and
verify steps."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


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


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 2**16 - 1), min_size=2, max_size=25, unique=True),
    st.integers(min_value=1, max_value=3),
)
def test_simhash_blocking_complete_property(spark, fps_vals, d):
    import warnings

    from tab2neo_spark.operators.dedup import simhash_pairs_from_fps

    fps = spark.createDataFrame(
        [(i, v) for i, v in enumerate(fps_vals)], "doc_id long, simhash long"
    )
    exp = sorted(
        (a, b, bin(fps_vals[a] ^ fps_vals[b]).count("1"))
        for a in range(len(fps_vals))
        for b in range(a + 1, len(fps_vals))
        if bin(fps_vals[a] ^ fps_vals[b]).count("1") <= d
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # narrow-block warning expected
        got = sorted(
            map(
                tuple,
                simhash_pairs_from_fps(
                    fps, "doc_id", bits=16, max_hamming=d
                ).collect(),
            )
        )
    assert got == exp


def test_simhash_narrow_block_warning(spark):
    from tab2neo_spark.operators.dedup import simhash_pairs_from_fps

    fps = spark.createDataFrame([(1, 3), (2, 5)], "doc_id long, simhash long")
    with pytest.warns(UserWarning, match="near-quadratic"):
        simhash_pairs_from_fps(fps, "doc_id", bits=16, max_hamming=3)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # wide blocks must NOT warn
        simhash_pairs_from_fps(fps, "doc_id", bits=32, max_hamming=1)


def test_simhash_xxhash64_production_mode(spark):
    """64-bit production fingerprints: the full hamming<=d pair set still
    matches a brute-force check, fingerprints actually use the high bits
    (selective 16-bit block keys at d=3, no narrow-block warning), and
    md5 mode is unchanged by the OR-accumulation rewrite."""
    import warnings

    from tab2neo_spark.operators.dedup import (
        simhash, simhash_near_pairs, simhash_pairs_from_fps,
    )

    rows = [(i, f"alpha beta gamma token{i} delta epsilon") for i in range(30)]
    rows += [(100 + i, f"alpha beta gamma token{i} delta zeta") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    fps = simhash(df, "text", "doc_id", bits=64, hash_fn="xxhash64")
    vals = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    # high bits in use: some fingerprint exceeds the 32-bit md5 range
    assert any(v < 0 or v > 0xFFFFFFFF for v in vals.values())

    for d in (2, 3):
        exp = sorted(
            (a, b, bin((vals[a] ^ vals[b]) & (2**64 - 1)).count("1"))
            for a in vals for b in vals
            if a < b and bin((vals[a] ^ vals[b]) & (2**64 - 1)).count("1") <= d
        )
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # 64/4 blocks: no narrow warn
            got = sorted(
                map(tuple,
                    simhash_pairs_from_fps(
                        fps, "doc_id", bits=64, max_hamming=d
                    ).collect())
            )
        assert got == exp, f"d={d}"

    # end-to-end production call
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = simhash_near_pairs(
            df, "text", "doc_id", bits=64, max_hamming=3, hash_fn="xxhash64"
        )
        assert out.count() == len(exp)

    # md5 16-bit fingerprints are value-stable under the OR rewrite
    # (the DuckDB oracle computes sum of 1<<bit — same number)
    md5fps = {r["doc_id"]: r["simhash"]
              for r in simhash(df, "text", "doc_id", bits=16).collect()}
    assert all(0 <= v <= 0xFFFF for v in md5fps.values())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="capped at bits<=32"):
        simhash(df, "text", "doc_id", bits=64, hash_fn="md5")


def test_simhash_nblocks_clamped_same_pairs(spark):
    from tab2neo_spark.operators.dedup import simhash, simhash_pairs_from_fps

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta x"),
         (3, "totally different words here")],
        "doc_id long, text string",
    )
    fps = simhash(df, "text", "doc_id", bits=16).cache()
    ref = {
        (r["a"], r["b"], r["hamming"])
        for r in simhash_pairs_from_fps(fps, "doc_id", 16, 3).collect()
    }
    with pytest.warns(UserWarning, match="clamped"):
        clamped = simhash_pairs_from_fps(fps, "doc_id", 16, 3, n_blocks=99)
    assert {
        (r["a"], r["b"], r["hamming"]) for r in clamped.collect()
    } == ref


def test_simhash_impossible_recall_raises(spark):
    from tab2neo_spark.operators.dedup import simhash_pairs_from_fps

    fps = spark.createDataFrame([(1, 3)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="needs 4 blocks"):
        simhash_pairs_from_fps(fps, "doc_id", bits=2, max_hamming=3,
                               n_blocks=5)


def test_repeated_spans_join_never_broadcasts_positions(spark, sf_dir):
    """The join-back must never broadcast the heavy position stream:
    Catalyst's static estimate of a post-explode subtree is the tiny scan
    size, which pre-r6 made it broadcast-build the positions relation.
    Both modes now pin a shuffled hash join building the totals side."""
    from tab2neo_spark.operators.dedup import repeated_ngram_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for wdc in (True, False):
        out = repeated_ngram_spans(
            docs, "text", "doc_id", n=8, min_count=2, with_doc_counts=wdc
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan, plan[:1200]
        assert "BroadcastExchange" not in plan, plan[:1200]


def test_repeated_spans_explodes_once(spark, sf_dir):
    """with_doc_counts=True must evaluate the tokenize+digest explosion
    ONCE per execution: totals derive from the same (digest, doc)
    collect_list aggregation as the position side, so the two join
    inputs share one shuffle-map stage (AQE exchange reuse). A divergent
    totals subtree (e.g. a separate count aggregation over spans)
    silently doubles the dominant map-side work."""
    from tab2neo_spark.operators.dedup import repeated_ngram_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = repeated_ngram_spans(docs, "text", "doc_id", n=8, min_count=2)
    cnt = out.groupBy().count()
    cnt.collect()  # execute so AQE finalizes stage reuse
    final = cnt._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final[:1500]


def _old_exploded_signatures(sh, id_col, num_hashes, hash_fn):
    """The pre-r6 exploded construction, kept verbatim as the reference:
    explode seeds per shingle, groupBy(id, seed) min."""
    from tab2neo_spark.operators.hashing import digest

    seeds = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed")
    if hash_fn == "xxhash64":
        pre = sh.select(id_col, F.xxhash64(F.col("shingle")).alias("_sh"))
        exploded = pre.select(id_col, "_sh", seeds)
        h = F.xxhash64(F.col("_sh"), F.col("seed"))
    else:
        exploded = sh.select(id_col, "shingle", seeds)
        h = digest(F.concat_ws("#", F.col("shingle"), F.col("seed")), hash_fn)
    return exploded.groupBy(id_col, "seed").agg(F.min(h).alias("minhash"))


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_minhash_signatures_wide_equals_exploded(spark, sf_dir, hash_fn):
    """The wide one-pass signature must be bit-identical to the old
    seed-exploded groupBy(id, seed) form in BOTH hash modes (same
    strings digested, same minima, same dtypes)."""
    from tab2neo_spark.operators.dedup import minhash_signatures, word_shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = word_shingles(docs, "text", "doc_id", k=1)
    new = minhash_signatures(sh, "doc_id", num_hashes=8, hash_fn=hash_fn)
    ref = _old_exploded_signatures(sh, "doc_id", 8, hash_fn)
    assert new.schema == ref.schema, (new.schema, ref.schema)
    key = lambda t: (t[0], t[1])  # noqa: E731
    assert sorted(map(tuple, new.collect()), key=key) == sorted(
        map(tuple, ref.collect()), key=key
    )


def test_minhash_verified_uses_array_intersect_not_shingle_join(spark, sf_dir):
    """The verify step must score candidates via in-row
    size(array_intersect) over per-doc shingle sets — never by exploding
    candidate pairs against the (id, shingle) table (pairs x doc-length
    rows through a shuffle). The shingle table itself must be persisted
    (one tokenize+explode+distinct pass shared by all consumers)."""
    from tab2neo_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = minhash_dedup_pairs(docs, "text", "doc_id", k=1, num_hashes=8,
                              bands=4, threshold=0.7, hash_fn="md5")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "array_intersect" in plan, plan[:1500]
    assert "InMemoryTableScan" in plan, plan[:1500]
