"""Round-6 fixes: the r5 ADVICE robustness items (simhash block clamp,
pq_ivf_topk precomputed centroids, xlsx row-index gaps) plus regression
tests for r6 optimization rewrites. The compact row guard's tests live
in test_materialize."""

from __future__ import annotations

import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F


# -- ADVICE 2: simhash blocking clamps n_blocks to the bit width ----------


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


# -- ADVICE 3: pq_ivf_topk accepts precomputed centroids ------------------


def test_pq_ivf_topk_precomputed_centroids_equal(spark, sf_dir):
    from tab2neo_spark.operators.pq import pq_ivf_topk, pq_train
    from tab2neo_spark.operators.similarity import ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_train(emb, "embedding", "vec_id", m=4, k=4, sample=64, iters=2)
    q = [0.1] * 64
    inline = pq_ivf_topk(emb, "embedding", "vec_id", "label", q, cb, topk=5)
    pre = ivf_centroids(emb, "embedding", "label").collect()
    given = pq_ivf_topk(emb, "embedding", "vec_id", "label", q, cb, topk=5,
                        centroids=pre)
    assert [r.asDict() for r in inline.collect()] == [
        r.asDict() for r in given.collect()
    ]


# -- ADVICE 4: xlsx honors row r indices (omitted blank rows) -------------


def _book(tmp_path, sheet_xml: str) -> str:
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    wb = (
        f'<workbook xmlns="{ns}" xmlns:r='
        '"http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    path = str(tmp_path / "gap.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)
    return path


def test_xlsx_interior_blank_rows_keep_alignment(tmp_path):
    from tab2neo_spark.sources.xlsx import read_xlsx

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = f"""<?xml version="1.0"?>
<worksheet xmlns="{ns}"><sheetData>
<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row>
<row r="2"><c r="A2"><v>1</v></c></row>
<row r="5"><c r="A5"><v>4</v></c></row>
</sheetData></worksheet>"""
    df = read_xlsx(_book(tmp_path, sheet))
    # rows 3 and 4 were omitted by the writer -> two all-NaN rows keep
    # row 5's value at frame position 3 (pandas/openpyxl parity)
    assert list(df.columns) == ["k"]
    assert len(df) == 4
    assert df["k"][0] == 1 and pd.isna(df["k"][1]) and pd.isna(df["k"][2])
    assert df["k"][3] == 4


def test_xlsx_rows_without_r_still_sequential(tmp_path):
    from tab2neo_spark.sources.xlsx import read_xlsx

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = f"""<?xml version="1.0"?>
<worksheet xmlns="{ns}"><sheetData>
<row><c t="inlineStr"><is><t>k</t></is></c></row>
<row><c><v>1</v></c></row>
<row><c><v>2</v></c></row>
</sheetData></worksheet>"""
    df = read_xlsx(_book(tmp_path, sheet))
    assert df["k"].tolist() == [1, 2]


# -- r6 rewrite regressions ----------------------------------------------


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


# -- r6 minhash family rewrite: wide signatures + array-intersect verify --


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
