"""Graph analytics over the triple table (kg/analytics.py)."""

from __future__ import annotations


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
