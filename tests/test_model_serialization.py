"""Schema serializers: LinkML round-trip, arrows.app import/export, TTL."""

from __future__ import annotations

from tab2neo_spark.model.gazetteer import webtext_model
from tab2neo_spark.model.serialization import (
    create_model_from_linkml,
    export_arrows_dict,
    export_model_to_linkml,
    export_model_ttl,
    load_arrows_dict,
)


def test_linkml_golden_shape():
    """Byte-for-byte the reference's golden fixture
    (tests_model_manager/test_linkml.py:11-96): same model DDL in, same
    LinkML dict out — catches any field-name drift."""
    from tab2neo_spark.model.metadata import MetadataModel

    m = MetadataModel()
    m.create_class("Subject", short_label="USUBJID")
    m.create_class("Sex", short_label="SEX", data_type="string")
    m.create_class("Age", short_label="AGE", data_type="integer")
    m.create_relationship("Subject", "Sex", "S Sex")
    m.create_relationship("Subject", "Age", "S Age")
    m.create_ct({
        "Sex": [
            {"rdfs:label": "M", "Codelist Code": "Cxxxx1", "Term Code": "Cyyyyy1"},
            {"rdfs:label": "F", "Codelist Code": "Cxxxx1", "Term Code": "Cyyyyy2"},
        ]
    })
    golden = {
        "classes": [
            {"label": "Age", "short_label": "AGE", "data_type": "integer",
             "attributes": [
                 {"name": "Age rdfs:label", "alias": "rdfs:label",
                  "range": "integer"}]},
            {"label": "Sex", "short_label": "SEX", "data_type": "string",
             "attributes": [
                 {"name": "Sex rdfs:label", "alias": "rdfs:label",
                  "range": "Sex CT"}]},
            {"label": "Subject", "short_label": "USUBJID",
             "attributes": [
                 {"name": "Subject S Age", "alias": "S Age", "range": "Age"},
                 {"name": "Subject S Sex", "alias": "S Sex", "range": "Sex"},
                 {"name": "Subject rdfs:label", "alias": "rdfs:label",
                  "range": "string"}]},
        ],
        "enums": {"Sex CT": {"permissible_values": {
            "M": {"description": "Cxxxx1_Cyyyyy1"},
            "F": {"description": "Cxxxx1_Cyyyyy2"},
        }}},
    }
    assert export_model_to_linkml(m) == golden

    # reimport (test_linkml.py:94-120): classes + reified rels + ordered CT
    m2 = create_model_from_linkml(golden)
    assert set(m2.classes) == {"Subject", "Sex", "Age"}
    assert {(r.from_label, r.to_label, r.relationship_type)
            for r in m2.relationships} == {
        ("Subject", "Sex", "S Sex"), ("Subject", "Age", "S Age")}
    # NEXT chain M -> F derives from Order 1, 2
    by_order = sorted(m2.terms, key=lambda t: t.order)
    assert [t.rdfs_label for t in by_order] == ["M", "F"]


def test_linkml_roundtrip():
    m = webtext_model()
    linkml = export_model_to_linkml(m)
    by_label = {c["label"]: c for c in linkml["classes"]}
    # MENTIONS toward 4 ranges -> 4 attribute entries, one per range
    pg = [a for a in by_label["Page"]["attributes"] if a["alias"] == "MENTIONS"]
    assert {a["range"] for a in pg} == {"Engine", "Operator", "Structure", "Concept"}
    m2 = create_model_from_linkml(linkml)
    assert set(m2.classes) == set(m.classes)
    # the reference's LinkML shape does not carry SUBCLASS_OF (lossy there too)
    assert {(r.from_label, r.to_label, r.relationship_type) for r in m2.relationships} == {
        (r.from_label, r.to_label, r.relationship_type) for r in m.relationships
    }


def test_arrows_roundtrip():
    m = webtext_model()
    arrows = export_arrows_dict(m)
    assert {n["labels"][0] for n in arrows["nodes"]} == {"Class"}
    m2 = load_arrows_dict(arrows)
    assert set(m2.classes) == set(m.classes)
    assert set(m2.subclass_of) == set(m.subclass_of)


def test_arrows_import_terms_and_create_mode():
    arrows = {
        "nodes": [
            {"id": "a", "labels": ["Class"], "properties": {"label": "Age", "create": "true"}},
            {"id": "b", "labels": ["Class"], "properties": {"label": "Record"}},
            {"id": "t", "labels": ["Term"],
             "properties": {"Class": "Sex", "Codelist Code": "CL.SEX",
                            "Term Code": "M", "rdfs:label": "Male"}},
        ],
        "relationships": [
            {"id": "r0", "fromId": "b", "toId": "a", "type": "HAS_AGE", "properties": {}},
        ],
    }
    m = load_arrows_dict(arrows)
    assert m.classes["Age"].create is True
    assert m.relationships[0].relationship_type == "HAS_AGE"
    assert m.terms[0].rdfs_label == "Male"


def test_ttl_export_deterministic():
    m = webtext_model()
    ttl1, ttl2 = export_model_ttl(m), export_model_ttl(m)
    assert ttl1 == ttl2
    assert "t2s:Operator a owl:Class" in ttl1
    assert "t2s:Operator rdfs:subClassOf t2s:Entity ." in ttl1
    assert 'rdfs:label "MENTIONS"' in ttl1


def test_ttl_terminator_without_space(spark):
    """Legal Turtle puts the statement '.' directly after a prefixed
    name; the tokenizer must not swallow it into the word (which would
    desynchronize every following statement)."""
    from tab2neo_spark.model.serialization import parse_ttl_graph

    g = parse_ttl_graph(
        """@prefix x: <urn:x#> .
x:c a x:Method.
x:c x:id "m".
x:a0 a x:Method.
x:a0 x:type "get_data".
x:c x:METHOD_ACTION x:a0.
"""
    )
    nodes = {n["id"]: n for n in g["nodes"]}
    assert nodes["c"]["labels"] == ["Method"]
    assert nodes["c"]["properties"] == {"id": "m"}
    assert nodes["a0"]["properties"] == {"type": "get_data"}
    assert [(r["fromId"], r["toId"], r["type"]) for r in g["relationships"]] == [
        ("c", "a0", "METHOD_ACTION")
    ]
