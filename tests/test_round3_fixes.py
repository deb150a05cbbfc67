"""Round-3 regression tests for the ADVICE findings (the rollback_action
null-safety tests live in test_materialize):

1. labels_to_pack map form must not crash on a 1:N key->value group
   (Spark's default mapKeyDedupPolicy=EXCEPTION).
2. embedding_near_dup_pairs must reject num_bits > vector dimension
   (silent O(n^2) degeneration otherwise).
3. bare {"incl_null": bool} where_map conditions compile to null checks
   (reference tests_query_builders/test_qb2.py:336).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_map_pack_duplicate_key_keeps_max_value(spark):
    """map-form labels_to_pack with a key class 1:N to packed values in one
    group: deterministic last-sorted (max) value per key instead of a
    DUPLICATED_MAP_KEY crash (documented divergence from apoc's
    nondeterministic last-row-wins, query_builder.py:776-782)."""
    from tab2neo_spark.model.metadata import MetadataModel
    from tab2neo_spark.provider import DataProvider

    nodes = spark.createDataFrame(
        [
            (10, "S", "s1", None, None),
            (20, "G", "young", None, None), (21, "G", "old", None, None),
            (30, "D", "DEF", None, None),
        ],
        "node_id long, class string, rdfs_label string, uri string, "
        "props map<string,string>",
    )
    # both G values hang off the SAME D key value for the same S row
    edges = spark.createDataFrame(
        [(10, "HAS", 20), (10, "HAS", 21), (20, "DEF", 30), (21, "DEF", 30)],
        "src long, rel_type string, dst long",
    )
    m = MetadataModel()
    m.create_related_classes_from_list([["S", "G", "HAS"], ["G", "D", "DEF"]])
    dp = DataProvider(spark, m, nodes, edges)
    got = dp.get_data(
        ["S", "G", "D"],
        rels=[{"from": "S", "to": "G", "type": "HAS"},
              {"from": "G", "to": "D", "type": "DEF"}],
        labels_to_pack={"G": "D"},
    )
    rows = {r["S"]: dict(r["G_map"]) for r in got.collect()}
    # sorted entries ('DEF','old') > ('DEF','young') -> 'young' < 'old' …
    # max value for key DEF is 'young' ( 'young' > 'old' lexicographically )
    assert rows == {"s1": {"DEF": "young"}}


def test_near_dup_rejects_short_vectors(spark):
    """Per-row lazy guard: plan construction stays lazy (no eager probe
    job), but EVERY short vector fails the run — including ones past the
    first row."""
    from tab2neo_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.createDataFrame(
        [(1, [0.1] * 32), (2, [0.2] * 16)],  # first row long enough!
        "vec_id long, embedding array<float>",
    )
    out = embedding_near_dup_pairs(emb, "embedding", "vec_id",
                                   threshold=0.9, num_bits=32, bands=4)
    with pytest.raises(Exception, match="num_bits"):
        out.collect()


def test_bare_incl_null_condition(spark):
    from tab2neo_spark.operators.predicates import apply_where_map

    df = spark.createDataFrame([(1, "a"), (2, None), (3, "c")],
                               "id long, v string")
    only_null = apply_where_map(df, {"v": {"incl_null": True}})
    assert [r["id"] for r in only_null.collect()] == [2]
    not_null = apply_where_map(df, {"v": {"incl_null": False}})
    assert sorted(r["id"] for r in not_null.collect()) == [1, 3]


@pytest.mark.parametrize("tokens,budget,num_bands", [
    ([50, 40, 30, 20, 10], 100, 4),          # boundary mid-list
    ([10, 10, 10, 10, 10], 25, 4),           # all-equal: single-band path
    ([100], 100, 4),                         # one row, prev=0 < budget
    ([5, 5, 5], 0, 4),                       # zero budget -> nothing
    ([1, 2, 3, 4, 5, 6, 7, 8], 1000, 4),     # budget exceeds total -> all
    ([7, 7, 6, 6, 5, 5], 19, 2),             # ties straddling band edges
    ([30, 1, 1, 1, 1, 1, 1, 1], 30, 3),      # first row exactly consumes it
    ([2, 9, 4, 9, 2, 8, 1], 17, 8),          # more bands than distinct vals
])
def test_banded_budget_equals_exact_reference(spark, tokens, budget, num_bands):
    """The banded sampler must reproduce the exact greedy-fill semantics
    (admit iff preceding total < budget, order (tokens DESC, id)) on every
    edge-case shape: band boundaries, ties, degenerate single-band, empty
    and everything-admitted outcomes."""
    from pyspark.sql import Window as W

    from tab2neo_spark.operators.corpus import sample_to_token_budget

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "doc_id long, n_tokens long"
    )
    got = sorted(r["doc_id"] for r in sample_to_token_budget(
        df, "doc_id", "n_tokens", budget=budget, num_bands=num_bands
    ).collect())

    # serial reference
    order = sorted(enumerate(tokens), key=lambda p: (-p[1], p[0]))
    prev, want = 0, []
    for i, t in order:
        if prev < budget:
            want.append(i)
        prev += t
    assert got == sorted(want), (got, want)


def test_decontaminate_drops_leaked_docs(spark):
    from tab2neo_spark.operators.decontam import decontaminate, ngram_collisions

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base + " plus unique tail one"),
         (2, "completely different words about spark shuffles and joins " * 2),
         (3, "short doc")],  # < n words: no n-grams, never flagged
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, base)], "doc_id long, text string")
    hits = ngram_collisions(corpus, bench, "text", "doc_id", n=8).collect()
    assert {r["corpus_id"] for r in hits} == {1}
    kept = decontaminate(corpus, bench, "text", "doc_id", n=8)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3]


def test_gopher_filter_rules(spark):
    from tab2neo_spark.operators.cleaning import gopher_filter, repetition_stats

    clean = " ".join(f"w{i}" for i in range(60))
    repeated_lines = "\n".join(["same line of text"] * 10 + ["unique bit"])
    one_word = ("data " * 80).strip()
    df = spark.createDataFrame(
        [(1, clean), (2, repeated_lines), (3, one_word)],
        "doc_id long, text string",
    )
    stats = {r["doc_id"]: r for r in repetition_stats(df, "text").collect()}
    assert stats[1]["dup_line_frac"] == 0.0
    assert stats[2]["dup_line_frac"] > 0.8          # 9 of 11 lines are copies
    assert stats[3]["top_word_frac"] == 1.0
    kept = gopher_filter(df, "text", min_words=50).collect()
    assert [r["doc_id"] for r in kept] == [1]


def test_pii_redact_counts_and_text(spark):
    from tab2neo_spark.operators.cleaning import pii_redact

    df = spark.createDataFrame(
        [(1, "mail a.b@x.io and c@d.org, call +1-555-123-4567, host 10.0.0.1"),
         (2, "nothing sensitive here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_redact(df, "text").collect()}
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ipv4"]) == (2, 1, 1)
    assert "<EMAIL>" in out[1]["redacted"] and "<IPV4>" in out[1]["redacted"]
    assert "a.b@x.io" not in out[1]["redacted"]
    assert out[2]["redacted"] == "nothing sensitive here"


def test_url_hygiene_ops(spark):
    from tab2neo_spark.operators.urls import (
        filter_blocked_domains,
        normalize_url,
        url_domain,
    )

    df = spark.createDataFrame(
        [(1, "HtTpS://WWW.Example.COM/Path/Keep#frag"),
         (2, "http://sub.blocked.org/x?q=1"),
         (3, "https://ok.net/"),
         (4, "not a url")],
        "id long, url string",
    )
    rows = {r["id"]: r for r in df.select(
        "id", normalize_url(F.col("url")).alias("n"),
        url_domain(F.col("url")).alias("d")).collect()}
    assert rows[1]["n"] == "https://www.example.com/Path/Keep"  # path case kept
    assert rows[1]["d"] == "www.example.com"
    assert rows[3]["n"] == "https://ok.net"   # trailing slash dropped
    assert rows[4]["d"] == ""                 # non-url -> empty domain
    block = spark.createDataFrame([("blocked.org",)], "domain string")
    kept = filter_blocked_domains(df, "url", block)
    assert sorted(r["id"] for r in kept.collect()) == [1, 3, 4]
    # exact-only mode keeps the subdomain row
    kept2 = filter_blocked_domains(df, "url", block, match_subdomains=False)
    assert sorted(r["id"] for r in kept2.collect()) == [1, 2, 3, 4]


def test_stratified_cap_deterministic_and_bounded(spark):
    from tab2neo_spark.operators.corpus import stratified_cap

    df = spark.createDataFrame(
        [(i, "a" if i < 30 else "b") for i in range(40)], "id long, s string"
    )
    out1 = stratified_cap(df, ["s"], "id", cap=5)
    out2 = stratified_cap(df, ["s"], "id", cap=5)
    got1 = sorted(tuple(r) for r in out1.collect())
    assert got1 == sorted(tuple(r) for r in out2.collect())  # deterministic
    from collections import Counter

    by = Counter(s for _, s in got1)
    assert by == {"a": 5, "b": 5}
    # different salt -> different (still deterministic) sample
    alt = sorted(tuple(r) for r in
                 stratified_cap(df, ["s"], "id", cap=5, salt="other").collect())
    assert alt != got1


def test_pack_sequences_matches_global_window(spark):
    """Banded prefix-sum packing must equal the exact single-window global
    cumsum, and its Window must be partitioned (by band), never global."""
    from pyspark.sql import Window as W

    from tab2neo_spark.operators.corpus import pack_token_sequences

    df = spark.createDataFrame(
        [(i, 10 + (i * 7) % 50) for i in range(300)], "doc_id long, n_tokens long"
    )
    out = pack_token_sequences(df, "doc_id", "n_tokens", max_tokens=128)
    key = F.md5(F.concat_ws("#", F.lit("pack"), F.col("doc_id").cast("string")))
    w = W.orderBy(key, "doc_id").rowsBetween(W.unboundedPreceding, -1)
    ref = df.withColumn(
        "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    ).withColumn("seq_id", F.floor(F.col("start_offset") / 128))
    got = {r["doc_id"]: (r["seq_id"], r["start_offset"]) for r in out.collect()}
    want = {r["doc_id"]: (r["seq_id"], r["start_offset"]) for r in ref.collect()}
    assert got == want
    # every sequence's docs are contiguous in the layout and starts ascend
    plan = out._jdf.queryExecution().executedPlan().toString()
    win = plan[plan.index("Window"):]
    first_window_line = win.splitlines()[0]
    assert "_band" in first_window_line  # partitioned window, not global
