"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in the executed plan, not assumed (filter/projection pushdown,
partition pruning, broadcast joins, zero-shuffle triple path, whole-stage
codegen)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_filter_and_projection_pushdown(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan
    # column pruning: the 16-column table reads only 2 columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey", "l_quantity"
    }


def test_store_partition_pruning_survives_rollback(spark, sf_dir, tmp_path):
    """Readback filters on class/rel_type/pred must prune partitions —
    including after a rollback rewrite (regression: rollback used to drop
    the partition layout)."""
    from tab2neo_spark.datagen import pages_from_documents
    from tab2neo_spark.kg.construct import construct_kg
    from tab2neo_spark.kg.materialize import GraphStore, materialize_kg

    store = GraphStore(spark, str(tmp_path / "g"))
    kg = construct_kg(spark, pages_from_documents(spark, sf_dir).limit(50), unique_urls=True)
    materialize_kg(store, kg, "r1")
    kg2 = construct_kg(spark, pages_from_documents(spark, sf_dir).limit(80), unique_urls=True)
    materialize_kg(store, kg2, "r2")
    store.rollback_run("r2", ["nodes", "edges", "triples"])

    plan = _plan(store.read("nodes").filter(F.col("class") == "Operator"))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "Operator" in m.group(1), plan[:800]


def test_mentions_join_is_broadcast(spark, sf_dir):
    from tab2neo_spark.extract.mentions import detect_mentions_with_pos
    from tab2neo_spark.model.gazetteer import gazetteer_df

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(detect_mentions_with_pos(docs, gazetteer_df(spark), id_col="doc_id"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_triple_path_has_no_shuffle_under_unique_urls(spark, sf_dir):
    """The scale claim: pages -> MENTIONS triples is a narrow pipeline.
    No Exchange may appear in the t_mentions branch."""
    from tab2neo_spark.datagen import pages_from_documents
    from tab2neo_spark.kg.construct import construct_kg

    pages = pages_from_documents(spark, sf_dir).limit(50)
    kg = construct_kg(spark, pages, unique_urls=True, persist_intermediate=False)
    mentions_triples = kg.triples.filter(F.col("pred") == "MENTIONS")
    plan = _plan(mentions_triples)
    assert "Exchange" not in plan, plan[:1200]


def test_small_dim_join_goes_broadcast(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    plan = _plan(cust.join(nation, cust.c_nationkey == nation.n_nationkey))
    # AQE/stats pick broadcast for the 25-row dim without an explicit hint
    assert "BroadcastHashJoin" in plan or "broadcast" in plan.lower()


def test_wholestage_codegen_covers_scoring_pass(spark, sf_dir):
    """Text-quality scoring must fuse into the scan (single codegen stage,
    no Python)."""
    from tab2neo_spark.operators.textstats import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(quality_score(docs, "text"))
    # '*(n)' marks whole-stage-codegen'd operators in executedPlan strings
    assert re.search(r"\*\(\d+\)", plan), plan[:400]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_extraction_is_arrow_not_row_python(spark, sf_dir):
    from tab2neo_spark.datagen import pages_from_documents
    from tab2neo_spark.extract.html import extract_text_udf

    pages = pages_from_documents(spark, sf_dir).limit(10)
    plan = _plan(pages.select(extract_text_udf(F.col("html")).alias("t")))
    assert "ArrowEvalPython" in plan      # vectorized
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_topk_uses_take_ordered(spark, sf_dir):
    from tab2neo_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(cosine_topk(emb, "embedding", "vec_id", [1.0] + [0.0] * 63, k=5))
    assert "TakeOrderedAndProject" in plan  # per-partition top-k, no global sort


def test_corpus_select_single_exchange_no_python(spark, sf_dir):
    """The corpus-selection pass must fuse all scoring into the scan: ONE
    Exchange (on the 32-byte fingerprint, never on document bodies) and
    zero Python evals of any kind."""
    from tab2neo_spark.operators.corpus import select_training_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = select_training_corpus(docs, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan, plan


def test_token_budget_window_is_band_bounded(spark, sf_dir):
    """The greedy token-budget fill must NOT funnel the whole corpus
    through one task: the only single-partition Window sits above a filter
    on the boundary band (~n/num_bands rows); every other band is admitted
    or rejected by a plain filter."""
    from tab2neo_spark.operators.corpus import sample_to_token_budget
    from tab2neo_spark.operators.textstats import token_count

    docs = token_count(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "text"
    ).select("doc_id", "n_tokens")
    out = sample_to_token_budget(docs, "doc_id", "n_tokens", budget=5000)
    plan = _optimized(out)
    # the Window's subtree must be scoped to the boundary band (the
    # optimizer inlines the _band alias into its CASE WHEN expression)
    win = plan[plan.index("Window") :]
    assert "Filter" in win and ("_band" in win or "CASE WHEN" in win)
    # admitted bands flow through WITHOUT any Window/global sort
    assert plan.count("Window") == 1
    # and the result matches the exact single-window reference semantics
    from pyspark.sql import Window as W

    w = W.orderBy(F.desc("n_tokens"), F.col("doc_id")).rowsBetween(
        W.unboundedPreceding, -1
    )
    ref = (
        docs.withColumn("_p", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .filter(F.col("_p") < 5000)
        .drop("_p")
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in ref.collect()
    )


def test_hygiene_ops_are_scan_fused(spark, sf_dir):
    """PII redaction, repetition stats, URL hygiene, BPE counting: pure
    column expressions — ZERO Exchange, zero Python in the plan (the
    claims docs/PLANS.md §16 makes, asserted)."""
    from tab2neo_spark.operators.cleaning import pii_redact, repetition_stats
    from tab2neo_spark.operators.textstats import bpe_token_count
    from tab2neo_spark.operators.urls import normalize_url, url_domain

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for out in (
        pii_redact(docs, "text"),
        repetition_stats(docs, "text"),
        bpe_token_count(docs, "text"),
        docs.select(normalize_url(F.col("text")).alias("n"),
                    url_domain(F.col("text")).alias("d")),
    ):
        plan = _plan(out)
        assert "Exchange" not in plan, plan[:400]
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontam_probe_is_broadcast(spark, sf_dir):
    """The benchmark side of decontamination broadcasts: the candidate
    digest join must be a BroadcastHashJoin — the corpus side never
    shuffles its n-grams."""
    from tab2neo_spark.operators.decontam import ngram_collisions

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 5)
    out = ngram_collisions(docs, bench, "text", "doc_id", n=8)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan


def test_three_group_optional_readback_no_cartesian_at_sf01(spark):
    """Optional-group scale guard (VERDICT r3 #10): a readback with THREE
    independent optional groups must compose as per-group left joins on
    the bound mandatory labels — never a cartesian Exchange (an unbound
    optional branch would cross-join and explode at 100 TB). Runs at
    sf0.1 (10x the usual test SF) as a gate-style execution, not just a
    plan string check."""
    from tab2neo_spark.model.metadata import MetadataModel
    from tab2neo_spark.provider import DataProvider

    sf = "/root/testdata/sf0.1"
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    nation = spark.read.parquet(f"{sf}/nation.parquet")

    def _nodes(df, cls, col):
        v = F.col(col).cast("string")
        return df.select(v.alias("rdfs_label")).distinct().select(
            F.xxhash64(F.lit(cls), "rdfs_label").alias("node_id"),
            F.lit(cls).alias("class"),
            "rdfs_label",
            F.lit(None).cast("string").alias("uri"),
            F.lit(None).cast("map<string,string>").alias("props"),
        )

    nodes = (
        _nodes(cust, "Segment", "c_mktsegment")
        .unionByName(_nodes(cust, "Nation", "c_nationkey"))
        .unionByName(_nodes(nation, "Region", "n_regionkey"))
        .unionByName(_nodes(cust, "Priority", "c_custkey"))
    )

    def _edges(df, fc, fcol, tc, tcol, rel, cond):
        return df.filter(cond).select(
            F.xxhash64(F.lit(fc), F.col(fcol).cast("string")).alias("src"),
            F.lit(rel).alias("rel_type"),
            F.xxhash64(F.lit(tc), F.col(tcol).cast("string")).alias("dst"),
        ).distinct()

    edges = (
        # three INDEPENDENT optional branches, each anchored on the
        # mandatory Segment tier -> three optional groups
        _edges(cust, "Segment", "c_mktsegment", "Nation", "c_nationkey",
               "HIGH_BAL", F.col("c_acctbal") > 9900)
        .unionByName(
            _edges(cust.withColumn("reg", F.col("c_nationkey") % 5),
                   "Segment", "c_mktsegment", "Region", "reg",
                   "SEG_REGION", F.col("c_acctbal") < -900))
        .unionByName(
            # single-edge branch: only one segment gets a Priority, so the
            # other segments exercise the NULL-optional path
            _edges(cust, "Segment", "c_mktsegment", "Priority", "c_custkey",
                   "SEG_PRI", F.col("c_custkey") == 1))
    )

    m = MetadataModel()
    m.create_related_classes_from_list(
        [["Segment", "Nation", "HIGH_BAL"],
         ["Segment", "Region", "SEG_REGION"],
         ["Segment", "Priority", "SEG_PRI"]]
    )
    dp = DataProvider(spark, m, nodes, edges)
    out = dp.get_data(["Segment", "Nation**", "Region**", "Priority**"])

    plan = _plan(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # every optional group attaches with LEFT OUTER semantics
    assert plan.count("LeftOuter") >= 3
    rows = out.collect()
    segs = {r["rdfs_label"] for r in nodes.filter(F.col("class") == "Segment").collect()}
    # left joins preserve every mandatory-tier row
    assert {r["Segment"] for r in rows} == segs
    # and at least one row carries a NULL optional branch alongside a
    # bound one (atomic-group semantics, not inner-join collapse)
    assert any(r["Nation"] is None or r["Priority"] is None for r in rows)


def test_repeated_spans_shuffles_digests_not_text(spark, sf_dir):
    """repeated_ngram_spans' scale claim: the only exchanges carry the
    position/digest stream and the count side — document text never
    appears past its scan (no text column in any Exchange's schema)."""
    from tab2neo_spark.operators.dedup import repeated_ngram_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = repeated_ngram_spans(docs, "text", "doc_id", n=8, min_count=2)
    plan = _plan(out)  # EXECUTED plan — Exchange nodes only exist there
    import re as _re

    exchanges = _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, plan[:400]  # the digest shuffle must exist...
    for keys in exchanges:
        assert "text" not in keys, keys  # ...and never carry text
    # and the raw text column is consumed by the digest projection: it
    # must not survive into the join output schema
    assert "text" not in out.columns


def test_repeated_cut_never_shuffles_text(spark, sf_dir):
    """The cut step's default plan joins the span table back as a
    BROADCAST side: no Exchange may carry the raw text column (the same
    invariant the detection stage is plan-tested for)."""
    from tab2neo_spark.operators.dedup import remove_repeated_regions

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = remove_repeated_regions(docs, "text", "doc_id", n=8, min_count=2)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    for m in re.finditer(r"Exchange hashpartitioning[^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


def test_pq_assign_zero_shuffle_and_search_take_ordered(spark, sf_dir):
    """PQ scale claims, plan-asserted: assignment is fused column
    expressions (no Exchange, no Python eval); ADC search ranks via
    TakeOrderedAndProject, never a global sort."""
    from tab2neo_spark.operators.pq import pq_assign, pq_search_topk, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_train(emb, "embedding", "vec_id", m=4, k=4, sample=64, iters=2)
    # a WELL-PARTITIONED input (the 100 TB shape): localCheckpoint so the
    # balancing repartition is outside the asserted plan — pq_assign
    # itself must add NO exchange on top of it (r6: pq_assign balances
    # pathologically under-split scans, which the tiny test file is)
    n = spark.sparkContext.defaultParallelism
    balanced = emb.repartition(n).localCheckpoint()
    coded = pq_assign(balanced, "embedding", cb)
    plan = _plan(coded)
    assert "Exchange" not in plan, plan[:600]
    assert "EvalPython" not in plan
    top = pq_search_topk(coded, "pq_codes", "vec_id", [0.0] * 64, cb, topk=5)
    splan = _plan(top)
    assert "TakeOrderedAndProject" in splan
    assert "EvalPython" not in splan


def test_pq_rerank_stage2_is_broadcast(spark, sf_dir):
    """Two-stage rerank plan shape: the topk-candidate id set joins back
    as the BROADCAST side (only `rerank` rows cross the wire — the
    corpus never shuffles for the join), and the final ranking is again
    TakeOrderedAndProject."""
    from tab2neo_spark.operators.pq import pq_assign, pq_rerank_topk, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_train(emb, "embedding", "vec_id", m=4, k=4, sample=64, iters=2)
    coded = pq_assign(emb, "embedding", cb)
    top = pq_rerank_topk(
        coded, "embedding", "pq_codes", "vec_id", [0.0] * 64, cb,
        topk=5, rerank=50,
    )
    plan = _plan(top)
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_refactor_all_scans_the_batch_once(spark, tmp_path):
    """refactor_all cuts nodes and edges from ONE per-row projection: each
    output's plan reads the source once and joins nothing on row_id (no
    per-class union branches, no row_map self-join)."""
    from tab2neo_spark.kg.refactor import RefactorEngine
    from tab2neo_spark.model.metadata import MetadataModel

    path = str(tmp_path / "batch")
    spark.createDataFrame(
        [("O1", "C1", "HIGH"), ("O2", "C1", None), ("O3", "C2", "LOW")],
        "Order string, Customer string, Priority string",
    ).write.parquet(path)
    m = MetadataModel()
    m.create_related_classes_from_list(
        [["Row", c, c] for c in ("Order", "Customer", "Priority")])
    m.create_relationship("Order", "Customer", "PLACED_BY")
    m.create_relationship("Order", "Priority", "HAS_PRIORITY")
    res = RefactorEngine(spark, m).refactor_all(
        spark.read.parquet(path), "Row", reify_rows=True)
    for df in (res.nodes, res.edges):
        plan = _plan(df)
        assert plan.count("FileScan parquet") == 1, plan
        assert "Join" not in plan, plan
