"""IVFPQ composition + PQ rerank (VERDICT r4 Next-round #6/#7): cell
pruning x compressed-domain scoring, exact rerank recall, materialized
index partition pruning."""

from __future__ import annotations

from pyspark.sql import functions as F


def _clustered(spark):
    # two well-separated clusters in 8-dim, cell = which cluster
    rows = [(i, [float(5 + (i % 3))] * 8, "pos") for i in range(20)]
    rows += [(100 + i, [float(-5 - (i % 3))] * 8, "neg") for i in range(20)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, cell string"
    )


def test_pq_ivf_topk_probes_nearest_cell(spark):
    from tab2neo_spark.operators.pq import pq_ivf_topk, pq_train

    df = _clustered(spark)
    cb = pq_train(df, "embedding", "vec_id", m=2, k=4, sample=40, iters=5)
    top = pq_ivf_topk(
        df, "embedding", "vec_id", "cell", [5.0] * 8, cb, topk=5, nprobe=1
    ).collect()
    assert len(top) == 5 and all(r["vec_id"] < 100 for r in top)
    # query near the negative cluster probes the other cell
    neg = pq_ivf_topk(
        df, "embedding", "vec_id", "cell", [-5.0] * 8, cb, topk=5, nprobe=1
    ).collect()
    assert all(r["vec_id"] >= 100 for r in neg)


def test_pq_rerank_topk_exact_when_rerank_covers_all(spark):
    """With rerank >= n the two-stage result IS the exact det-rounded
    squared-L2 top-k; with the measured production knobs it still matches
    on separable data."""
    from tab2neo_spark.operators.numeric import det_round
    from tab2neo_spark.operators.pq import pq_assign, pq_rerank_topk, pq_train, sq_l2

    df = _clustered(spark)
    cb = pq_train(df, "embedding", "vec_id", m=2, k=4, sample=40, iters=5)
    coded = pq_assign(df, "embedding", cb)
    q = [5.0] * 8
    got = pq_rerank_topk(
        coded, "embedding", "pq_codes", "vec_id", q, cb, topk=5, rerank=40
    ).collect()
    qa = F.array(*[F.lit(x) for x in q])
    exact = (
        df.select(
            "vec_id",
            det_round(sq_l2(F.col("embedding").cast("array<double>"), qa), 6).alias(
                "l2_dist"
            ),
        )
        .orderBy("l2_dist", "vec_id")
        .limit(5)
        .collect()
    )
    assert [(r["vec_id"], r["l2_dist"]) for r in got] == [
        (r["vec_id"], r["l2_dist"]) for r in exact
    ]
    # narrow rerank still lands in the right cluster
    nar = pq_rerank_topk(
        coded, "embedding", "pq_codes", "vec_id", q, cb, topk=5, rerank=8
    ).collect()
    assert all(r["vec_id"] < 100 for r in nar)


def test_ivfpq_index_partition_pruned_and_vectorless(spark, tmp_path):
    """The materialized IVFPQ index: (1) query result matches the
    non-materialized path, (2) the probe scan carries PartitionFilters on
    the cell column, (3) the codes table does NOT contain the raw vector
    column at all."""
    from tab2neo_spark.operators.pq import (
        build_ivfpq_index, pq_ivf_topk, pq_ivf_topk_indexed,
    )

    df = _clustered(spark)
    path = str(tmp_path / "ivfpq")
    cb = build_ivfpq_index(
        df, "embedding", "vec_id", "cell", path, m=2, k=4, sample=40, iters=5
    )
    got = pq_ivf_topk_indexed(
        spark, path, "vec_id", "cell", [5.0] * 8, topk=5, nprobe=1
    )
    ref = pq_ivf_topk(
        df, "embedding", "vec_id", "cell", [5.0] * 8, cb, topk=5, nprobe=1
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    # index holds codes only — the vector column is gone from the artifact
    stored = spark.read.parquet(f"{path}/codes")
    assert set(stored.columns) == {"vec_id", "pq_codes", "cell"}

    # the probe is partition-pruned at the source
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan


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
