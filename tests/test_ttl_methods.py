"""RdfDerivationMethod parity (VERDICT r4 Next-round #3): TTL method
specs — the last factory form of the reference's
``derivation_method_factory`` (derivation_method/derivation_method.py:
51-58) — parse into the same action chain as JSON specs, and export
round-trips losslessly.
"""

from __future__ import annotations

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from tab2neo_spark.pipeline.runner import DerivationMethod


@pytest.fixture(scope="module")
def test_data(spark):
    rows = [
        ("STUDY1", "S001", 30, 2.0, "M"),
        ("STUDY1", "S002", 40, 1.5, "F"),
        ("STUDY1", "S003", 20, 3.0, "M"),
    ]
    return spark.createDataFrame(
        rows, "Study string, Subject string, Age int, TestValue double, Sex string"
    )

# verbatim shape of the reference's TTL fixture
# (tests/derivation_method/data/derive_simple_002.ttl): neosemantics
# n4sch: prefix, core Method node with METHOD_ACTION edges, NEXT chain,
# display 'id' props on action nodes
REFERENCE_TTL = """\
@prefix n4sch: <neo4j://graph.schema#> .

<neo4j://graph.individuals#81644> a n4sch:Method;
  n4sch:id "derive_simple_002";
  n4sch:METHOD_ACTION <neo4j://graph.individuals#81646>, <neo4j://graph.individuals#81645> .

<neo4j://graph.individuals#81646> a n4sch:Method;
  n4sch:type "assign_class";
  n4sch:id "assign_class" .

<neo4j://graph.individuals#81645> a n4sch:Method;
  n4sch:type "get_data";
  n4sch:id "get_data";
  n4sch:NEXT <neo4j://graph.individuals#81646> .
"""


def test_method_ttl_reference_fixture(spark, test_data):
    """The reference's own n4sch fixture parses: NEXT chain fixes the
    order (get_data BEFORE assign_class, despite file order), the core
    node's id becomes the method name, and the display 'id' props on
    action nodes do not leak into the action dicts."""
    m = DerivationMethod.from_ttl(spark, REFERENCE_TTL, source_df=test_data)
    assert m.name == "derive_simple_002"
    assert [a["type"] for a in m.actions] == ["get_data", "assign_class"]
    assert all("id" not in a for a in m.actions)


def test_method_ttl_round_trip(spark, test_data):
    """to_ttl -> from_ttl is lossless, including non-scalar action params
    (the _json_props discipline) and numeric/boolean literals; the
    reconstructed method still runs."""
    spec = {
        "name": "ttl_rt",
        "actions": [
            {"type": "get_data"},
            {"type": "run_script", "script": "multiply_cols",
             "params": {"columns": ["Age", "TestValue"], "new_column": "NEWV"}},
            {"type": "assign_class", "class": "NewValue", "value_column": "NEWV"},
        ],
    }
    m = DerivationMethod(spark, spec, source_df=test_data)
    ttl = m.to_ttl()
    assert ttl.startswith("@prefix t2sm:")
    m2 = DerivationMethod.from_ttl(spark, ttl, source_df=test_data)
    assert m2.name == m.name
    assert m2.actions == m.actions
    # double round-trip is a fixpoint
    assert DerivationMethod.from_ttl(spark, m2.to_ttl(),
                                     source_df=test_data).actions == m.actions
    assert "NEWV" in m2.apply().df.columns


def test_method_ttl_typed_literals(spark, test_data):
    """Int/float/bool literals survive the TTL round-trip with their
    Python types (repr emit + datatype-aware parse)."""
    spec = {
        "name": "typed",
        "actions": [
            {"type": "get_data"},
            {"type": "filter", "column": "Age", "op": ">=", "value": 30},
        ],
    }
    m = DerivationMethod(spark, spec, source_df=test_data)
    m2 = DerivationMethod.from_ttl(spark, m.to_ttl(), source_df=test_data)
    a = m2.actions[1]
    assert a["value"] == 30 and isinstance(a["value"], int)
    # explicit xsd-typed literals parse too (what an external TTL carries)
    ext = """@prefix x: <urn:x#> .
x:c a x:Method ; x:id "ext" ; x:METHOD_ACTION x:a0 .
x:a0 a x:Method ; x:type "filter" ; x:column "Age" ; x:op ">=" ;
  x:value "30"^^<http://www.w3.org/2001/XMLSchema#integer> ;
  x:strict true ; x:ratio 0.5 .
"""
    m3 = DerivationMethod.from_ttl(spark, ext, source_df=test_data)
    a3 = m3.actions[0]
    assert a3["value"] == 30 and a3["strict"] is True and a3["ratio"] == 0.5


def test_method_from_name_ttl_fallback(spark, test_data, tmp_path):
    """D1 by-name loading resolves <name>.ttl when no <name>.json
    exists — the factory's last missing form."""
    spec = {
        "name": "m_ttl",
        "actions": [
            {"type": "get_data"},
            {"type": "run_script", "script": "multiply_cols",
             "params": {"columns": ["Age", "TestValue"], "new_column": "NEWV"}},
        ],
    }
    m = DerivationMethod(spark, spec, source_df=test_data)
    (tmp_path / "m_ttl.ttl").write_text(m.to_ttl())
    got = DerivationMethod.from_name(
        spark, "m_ttl", str(tmp_path), source_df=test_data
    )
    assert got.actions == m.actions
    assert "NEWV" in got.apply().df.columns
    with pytest.raises(FileNotFoundError):
        DerivationMethod.from_name(spark, "nope", str(tmp_path),
                                   source_df=test_data)


_KEY = st.from_regex(r"[a-z][a-z0-9_]{0,9}", fullmatch=True)


_SCALAR = st.one_of(
    st.integers(-(2**31), 2**31 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.booleans(),
    st.text(alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
            max_size=20),
    st.text(alphabet='"\\\n\t #;,.<>', max_size=8),  # escaping stress
)


_PARAM = st.one_of(
    _SCALAR,
    st.lists(_SCALAR, max_size=3),
    st.dictionaries(_KEY, _SCALAR, max_size=3),
)


@st.composite
def _methods(draw):
    n = draw(st.integers(min_value=1, max_value=4))
    actions = []
    for _ in range(n):
        a = {"type": "get_data"}
        for k in draw(st.lists(_KEY, max_size=3, unique=True)):
            # 'id' == type is the reference's display form from_ttl strips
            if k not in ("type", "id"):
                a[k] = draw(_PARAM)
        actions.append(a)
    return {"name": draw(_KEY), "actions": actions}


@settings(max_examples=30, deadline=None)
@given(_methods())
def test_ttl_method_roundtrip_property(spark, spec):
    from tab2neo_spark.pipeline.runner import DerivationMethod

    td = spark.createDataFrame([("S1", 1)], "Subject string, Age int")
    m = DerivationMethod(spark, spec, source_df=td)
    m2 = DerivationMethod.from_ttl(spark, m.to_ttl(), source_df=td)
    assert m2.name == m.name
    assert m2.actions == m.actions


def test_ttl_genuine_id_param_survives(spark):
    """from_ttl strips only the reference's display pattern
    (id == type); an action's real 'id' parameter round-trips."""
    from tab2neo_spark.pipeline.runner import DerivationMethod

    td = spark.createDataFrame([("S1", 1)], "Subject string, Age int")
    spec = {
        "name": "keep_id",
        "actions": [
            {"type": "get_data", "id": "my-param"},
        ],
    }
    m = DerivationMethod(spark, spec, source_df=td)
    m2 = DerivationMethod.from_ttl(spark, m.to_ttl(), source_df=td)
    assert m2.actions == [{"type": "get_data", "id": "my-param"}]
    # the reference display form (id == type) is still stripped
    ref = """@prefix x: <urn:x#> .
x:c a x:Method ; x:id "m" ; x:METHOD_ACTION x:a0 .
x:a0 a x:Method ; x:type "get_data" ; x:id "get_data" .
"""
    m3 = DerivationMethod.from_ttl(spark, ref, source_df=td)
    assert m3.actions == [{"type": "get_data"}]
