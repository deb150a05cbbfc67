"""ModelApplier-parity tests: table -> entity nodes + typed edges + IS_A +
Term links, readback through DataProvider — mirrors the reference's
refactor tests (tests/tests_model_applier/, golden recordsets) with the
clinical-style fixture shapes from FIXTURES.md §2."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tab2neo_spark.kg.refactor import RefactorEngine, plan_extraction
from tab2neo_spark.model.metadata import MetadataModel, TermSpec
from tab2neo_spark.provider import DataProvider


@pytest.fixture(scope="module")
def record_df(spark):
    # the reference's examples/data/Record.csv shape (FIXTURES.md §2)
    rows = [
        ("STUDY1", "S001", 30, "M"),
        ("STUDY1", "S002", 40, "F"),
        ("STUDY1", "S003", 30, None),
        ("STUDY2", "S001", 25, "F"),
    ]
    return spark.createDataFrame(rows, "Study string, Subject string, Age int, Sex string")


@pytest.fixture(scope="module")
def model():
    m = MetadataModel()
    m.create_related_classes_from_list(
        [["Record", "Study", "Study"], ["Record", "Subject", "Subject"],
         ["Record", "Age", "Age"], ["Record", "Sex", "Sex"]]
    )
    # schema relationship between extracted entity classes: link_classes
    # (R3) echoes exactly these into data via the shared source row
    m.create_relationship("Study", "Subject")
    m.add_term(TermSpec("Sex", "CL.SEX", "M", "M"))
    m.add_term(TermSpec("Sex", "CL.SEX", "F", "F"))
    return m


@pytest.fixture(scope="module")
def refactored(spark, record_df, model):
    eng = RefactorEngine(spark, model)
    return eng.refactor_all(record_df, "Record", terms=model.terms_df(spark))


def test_plan_extraction(model):
    specs = plan_extraction(model, "Record")
    assert {s.class_label for s in specs} == {"Study", "Subject", "Age", "Sex"}
    assert all(s.mode == "merge" for s in specs)


def test_entities_merge_semantics(refactored):
    nodes = {(r["class"], r["rdfs_label"]) for r in refactored.nodes.collect()}
    # merge: S001 appears in two studies -> ONE Subject node; Age 30 twice -> one
    assert nodes == {
        ("Study", "STUDY1"), ("Study", "STUDY2"),
        ("Subject", "S001"), ("Subject", "S002"), ("Subject", "S003"),
        ("Age", "30"), ("Age", "40"), ("Age", "25"),
        ("Sex", "M"), ("Sex", "F"),
    }


def test_null_values_not_merged(refactored):
    """CLD_NAN discipline: the null Sex row creates no Sex node/edge."""
    assert refactored.nodes.filter(
        (F.col("class") == "Sex") & F.col("rdfs_label").isNull()
    ).count() == 0


def test_link_classes_shared_row(spark, refactored, model):
    """R3: Study-Subject edges exist exactly for co-occurring rows."""
    nodes = refactored.nodes
    edges = refactored.edges.filter(F.col("rel_type") == "Subject")
    a = nodes.select(F.col("node_id").alias("src"), F.col("rdfs_label").alias("study"))
    b = nodes.select(F.col("node_id").alias("dst"), F.col("rdfs_label").alias("subject"))
    got = {
        (r["study"], r["subject"])
        for r in edges.join(a, "src").join(b, "dst").collect()
    }
    assert got == {("STUDY1", "S001"), ("STUDY1", "S002"), ("STUDY1", "S003"), ("STUDY2", "S001")}


def test_term_links(refactored):
    term_edges = refactored.edges.filter(F.col("rel_type") == "Term")
    # M and F instances each link to their Term node
    assert term_edges.count() == 2


def test_is_a_and_from_data_present(refactored):
    kinds = {r["rel_type"] for r in refactored.edges.select("rel_type").distinct().collect()}
    assert {"FROM_DATA", "IS_A", "Term"} <= kinds


def test_create_mode_never_merges(spark, record_df):
    m = MetadataModel()
    m.create_class("Record")
    m.create_class("Age", create=True)  # create-mode: dup ages stay separate
    m.create_relationship("Record", "Age")
    res = RefactorEngine(spark, m).refactor_all(record_df, "Record")
    ages = res.nodes.filter(F.col("class") == "Age")
    assert ages.count() == 4  # one per row incl. two Age=30
    assert ages.select("node_id").distinct().count() == 4


def test_readback_through_provider(spark, refactored, model):
    """End-to-end parity: refactored graph answers get_data like the
    reference's examples/README.md readback."""
    dp = DataProvider(spark, model, refactored.nodes, refactored.edges)
    got = dp.get_data(
        ["Study", "Subject"],
        rels=[{"from": "Study", "to": "Subject", "type": "Subject"}],
        where_map={"Study": {"rdfs:label": "STUDY1"}},
    )
    assert {(r["Study"], r["Subject"]) for r in got.collect()} == {
        ("STUDY1", "S001"), ("STUDY1", "S002"), ("STUDY1", "S003")
    }


def test_refactor_deterministic_across_runs(spark, record_df, model):
    eng = RefactorEngine(spark, model)
    n1 = {tuple(r) for r in eng.refactor_all(record_df, "Record").nodes.collect()}
    n2 = {tuple(r) for r in eng.refactor_all(record_df, "Record").nodes.collect()}
    assert n1 == n2


def test_label_entities_extra_labels(spark, refactored, model):
    """R8: each Study node gains its subjects' values as extra labels."""
    eng = RefactorEngine(spark, model)
    extra = eng.label_entities(refactored.nodes, refactored.edges, "Subject")
    nodes = refactored.nodes
    study = nodes.filter(nodes["class"] == "Study").select(
        nodes["node_id"], nodes["rdfs_label"].alias("study")
    )
    got = {
        (r["study"], r["extra_label"])
        for r in extra.join(study, "node_id").collect()
    }
    assert got == {
        ("STUDY1", "S001"), ("STUDY1", "S002"), ("STUDY1", "S003"), ("STUDY2", "S001")
    }


# ---------------------------------------------------------------------------
# R1/R2 MAPS_TO_PROPERTY mode: multi-column -> multi-property entities
# (reference tests/tests_model_applier/test_extract_entities.py)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def car_df(spark):
    # test_extract_class_entities_D's row set, with an id so duplicate
    # (color, make) rows stay distinct source rows
    rows = [
        (1, "white", "Toyota"), (2, "white", "Honda"), (3, "white", "Lamborghini"),
        (4, "blue", "Toyota"), (5, "blue", "Toyota"), (6, "blue", "Honda"),
        (7, "red", "Porsche"),
    ]
    return spark.createDataFrame(rows, "rid int, car_color string, car_make string")


def test_custom_mappings_plan_one_spec_per_class(car_df):
    """part_1_A: a class's (col, prop) pairs collapse into ONE spec."""
    m = MetadataModel()
    m.create_class("Automotive")
    m.create_custom_mappings_from_dict(
        {"Automotive": {"car": ["car_color", "car_make"]}}
    )
    specs = plan_extraction(m, "Automotive")
    assert len(specs) == 1
    assert specs[0].class_label == "car"
    assert sorted(specs[0].columns) == [
        ("car_color", "car_color"), ("car_make", "car_make")
    ]


def test_multi_property_merge_semantics(spark, car_df):
    """part_2_D: one car node per distinct (color, make) pair; the repeated
    (blue, Toyota) pair merges but keeps both FROM_DATA provenance edges."""
    from tab2neo_spark.model.metadata import PropertyMapping

    m = MetadataModel()
    m.create_class("Automotive")
    m.property_mappings += [
        PropertyMapping("Automotive", "car_color", "car", "color"),
        PropertyMapping("Automotive", "car_make", "car", "make"),
    ]
    specs = plan_extraction(m, "Automotive")
    res = RefactorEngine(spark, m).extract_class_entities(car_df, specs, "Automotive")
    cars = res.nodes.collect()
    got = {(r["props"]["color"], r["props"]["make"]) for r in cars}
    assert got == {
        ("white", "Toyota"), ("white", "Honda"), ("white", "Lamborghini"),
        ("blue", "Toyota"), ("blue", "Honda"), ("red", "Porsche"),
    }
    assert len(cars) == 6  # (blue, Toyota) merged across two rows
    # provenance: the merged node keeps one FROM_DATA edge per source row
    assert res.edges.filter(F.col("rel_type") == "FROM_DATA").count() == 7


def test_multi_property_null_subset_identity(spark):
    """A row missing one mapped column merges on the present subset — a
    {color} node is NOT the same identity as a {color, make} node."""
    from tab2neo_spark.model.metadata import PropertyMapping

    df = spark.createDataFrame(
        [(1, "blue", "Toyota"), (2, "blue", None), (3, None, None)],
        "rid int, car_color string, car_make string",
    )
    m = MetadataModel()
    m.create_class("Automotive")
    m.property_mappings += [
        PropertyMapping("Automotive", "car_color", "car", "color"),
        PropertyMapping("Automotive", "car_make", "car", "make"),
    ]
    res = RefactorEngine(spark, m).extract_class_entities(
        df, plan_extraction(m, "Automotive"), "Automotive"
    )
    nodes = res.nodes.collect()
    assert len(nodes) == 2  # all-null row extracted nothing
    props = sorted((dict(r["props"]) for r in nodes), key=len)
    assert props == [{"color": "blue"}, {"color": "blue", "make": "Toyota"}]


def test_multi_property_rdfs_label_pair(spark, car_df):
    """A pair mapped to rdfs_label feeds the canonical value column; the
    rest go to the props map."""
    from tab2neo_spark.model.metadata import PropertyMapping

    m = MetadataModel()
    m.create_class("Automotive")
    m.property_mappings += [
        PropertyMapping("Automotive", "car_make", "car", "rdfs_label"),
        PropertyMapping("Automotive", "car_color", "car", "color"),
    ]
    res = RefactorEngine(spark, m).extract_class_entities(
        car_df, plan_extraction(m, "Automotive"), "Automotive"
    )
    rows = {(r["rdfs_label"], r["props"]["color"]) for r in res.nodes.collect()}
    assert ("Toyota", "blue") in rows and ("Porsche", "red") in rows


def test_wildcard_table_mapping(spark, car_df):
    """'*' groupings apply to every table (model_manager.py:1145-1147)."""
    m = MetadataModel()
    m.create_custom_mappings_from_dict({"*": {"car": ["car_color"]}})
    specs = plan_extraction(m, "AnyTable")
    assert [s.class_label for s in specs] == ["car"]


def test_link_via_is_a_matches_link_classes(spark, record_df, model):
    """R5 (model_applier.py:433-476): graph-driven linking over FROM_DATA +
    node classes reproduces link_classes' edges, and reshape_all ends with
    the same typed edges as refactor_all."""
    eng = RefactorEngine(spark, model)
    ref = eng.refactor_all(record_df, "Record")
    resh = eng.reshape_all(record_df, "Record")

    def typed(res):
        return {
            tuple(r)
            for r in res.edges.filter(
                ~F.col("rel_type").isin("FROM_DATA", "IS_A", "Term")
            ).collect()
        }

    assert typed(resh) == typed(ref) and len(typed(resh)) > 0
    # anti-join guard: re-linking an already-linked graph adds nothing
    again = eng.link_via_is_a(resh.nodes, resh.edges)
    assert again.count() == 0


def test_create_model_from_data_end_to_end(spark, tmp_path):
    """The reference's test_create_model_from_data loop verbatim: CSV ->
    star schema from the data's columns -> refactor_all -> get_data
    readback over every column class == the source table
    (tests_model_manager/test_create_model_from_data.py:33-50, fixture
    create_model_from_data.csv incl. a space-named column)."""
    import os

    from tab2neo_spark.sources.loaders import load_file, sanitize_columns

    p = tmp_path / "create_model_from_data.csv"
    p.write_text("A,B,Name with space\n1,2,3\n4,5,6\n")
    df = load_file(spark, str(tmp_path), "create_model_from_data.csv")
    data_cols = [c for c in df.columns
                 if c not in ("_domain_", "_filename_", "_folder_")]
    src = sanitize_columns(df.select(*data_cols))

    m = MetadataModel.from_data(src, "CREATE_MODEL_FROM_DATA")
    res = RefactorEngine(spark, m).refactor_all(
        src, "CREATE_MODEL_FROM_DATA", reify_rows=True
    )
    dp = DataProvider(spark, m, res.nodes, res.edges)
    out = dp.get_data(["CREATE_MODEL_FROM_DATA"] + list(src.columns))
    got = out.drop("CREATE_MODEL_FROM_DATA")
    want = {tuple(str(v) for v in r) for r in src.collect()}
    assert {tuple(r) for r in got.select(*src.columns).collect()} == want


# ---------------------------------------------------------------------------
# Single-scan refactor_all vs the union / self-join formulation
# ---------------------------------------------------------------------------


def _union_refactor(eng, df, specs, table_class, terms=None, reify_rows=False):
    """Reference: per-class union extraction + row_id self-join
    (link_classes) + row_map IS_A — one union branch per spec, each
    re-reading the batch. The equivalence oracle for refactor_all's
    single-projection fan-out."""
    from functools import reduce

    from tab2neo_spark import schema as S
    from tab2neo_spark.kg.refactor import FROM_DATA

    rows = df.withColumn(
        "_row_id", F.xxhash64(F.lit(table_class), *[F.col(c) for c in df.columns])
    ).dropDuplicates(["_row_id"])
    node_parts, rowmap_parts = [], []
    for spec in specs:
        vals = [F.col(src).cast("string") for src, _ in spec.columns]
        base = rows.filter(reduce(lambda a, b: a | b, [v.isNotNull() for v in vals]))
        key_parts = [F.coalesce(v, F.lit("\x00")) for v in vals]
        salt = [F.col("_row_id")] if spec.mode == "create" else []
        node_id = F.xxhash64(F.lit(spec.class_label), *salt, *key_parts)
        is_label = [prop in ("rdfs_label", "rdfs:label") for _, prop in spec.columns]
        labels = [v for v, lab in zip(vals, is_label) if lab]
        props = [(prop, v) for (_, prop), v, lab in zip(spec.columns, vals, is_label) if not lab]
        part = base.select(
            node_id.alias("node_id"),
            F.lit(spec.class_label).alias("class"),
            (labels[0] if labels else F.lit(None).cast("string")).alias("rdfs_label"),
            S.node_uri_col(F.lit(spec.class_label), *vals).alias("uri"),
            (F.map_filter(F.create_map(*[x for p, v in props for x in (F.lit(p), v)]),
                          lambda k, v: v.isNotNull())
             if props else F.lit(None).cast("map<string,string>")).alias("props"),
            F.col("_row_id"),
        )
        rowmap_parts.append(part.select(F.col("_row_id").alias("row_id"), "class", "node_id"))
        node_parts.append(part.drop("_row_id"))
    nodes = reduce(lambda a, b: a.unionByName(b), node_parts).dropDuplicates(["node_id"])
    row_map = reduce(lambda a, b: a.unionByName(b), rowmap_parts)
    from_data = row_map.select(F.col("node_id").alias("src"),
                               F.lit(FROM_DATA).alias("rel_type"),
                               F.col("row_id").alias("dst"))
    if reify_rows:
        row_ids = row_map.select("row_id").distinct()
        nodes = nodes.unionByName(row_ids.select(
            F.col("row_id").alias("node_id"), F.lit(table_class).alias("class"),
            F.col("row_id").cast("string").alias("rdfs_label"),
            F.lit(None).cast("string").alias("uri"),
            F.lit(None).cast("map<string,string>").alias("props"),
        ))
        row_map = row_map.unionByName(row_ids.select(
            "row_id", F.lit(table_class).alias("class"), F.col("row_id").alias("node_id")
        ))
    edges = from_data.unionByName(eng.link_classes(row_map)).unionByName(eng.is_a_edges(row_map))
    if terms is not None:
        edges = edges.unionByName(eng.link_to_terms(nodes, terms))
    return nodes, edges, row_map


def _bag(df) -> list:
    """Multiset of rows, map columns made comparable."""
    def norm(v):
        return tuple(sorted(v.items())) if isinstance(v, dict) else v
    return sorted((tuple(norm(v) for v in r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def mixed_df(spark):
    rows = [
        ("S1", "A", 30, "M", "blue", "Toyota"),
        ("S1", "A", 30, "M", "blue", "Toyota"),  # byte-identical duplicate
        ("S1", "B", 30, None, "blue", None),     # NULLs inside a multi-prop spec
        ("S2", "A", 25, "F", None, None),        # multi-prop spec absent
        (None, None, None, None, None, None),    # all-NULL row: no entity, no row node
        (None, "C", None, "F", "red", "Honda"),
    ]
    return spark.createDataFrame(
        rows, "Study string, Subject string, Age int, Sex string, "
              "car_color string, car_make string")


@pytest.fixture(scope="module")
def mixed_model():
    from tab2neo_spark.model.metadata import PropertyMapping

    m = MetadataModel()
    m.create_class("Age", create=True)  # create-mode: never merges
    m.create_related_classes_from_list(
        [["Record", "Study", "Study"], ["Record", "Subject", "Subject"],
         ["Record", "Age", "Age"], ["Record", "Sex", "Sex"],
         # a second relationship on the (Record, Subject) pair
         ["Record", "Subject", "ENROLLS"]]
    )
    m.create_class("car")
    m.property_mappings += [  # MAPS_TO_PROPERTY: a label pair + an open prop
        PropertyMapping("Record", "car_make", "car", "rdfs_label"),
        PropertyMapping("Record", "car_color", "car", "color"),
    ]
    m.create_relationship("Study", "Subject")
    m.create_relationship("Study", "Subject", "RUNS")  # two rels, one class pair
    m.create_relationship("Subject", "Subject", "SAME_ROW")  # from == to
    m.create_relationship("Subject", "car", "DRIVES")
    m.create_relationship("car", "Age")
    m.create_relationship("Sex", "Record", "OF_ROW")  # entity -> row node
    m.add_term(TermSpec("Sex", "CL.SEX", "M", "M"))
    m.add_term(TermSpec("Sex", "CL.SEX", "F", "F"))
    m.add_term(TermSpec("car", "CL.CAR", "T", "Toyota"))
    return m


@pytest.mark.parametrize("reify_rows", [False, True])
@pytest.mark.parametrize("with_terms", [False, True])
def test_refactor_all_equals_union_self_join_reference(
        spark, mixed_df, mixed_model, reify_rows, with_terms):
    """The single-projection fan-out yields exactly the union/self-join
    formulation's nodes, edges and row_map (as multisets) over multi-prop
    and create-mode specs, NULL and all-NULL rows, byte-identical
    duplicates, reified rows, terms, a self-relationship and two
    relationships on one class pair."""
    eng = RefactorEngine(spark, mixed_model)
    terms = mixed_model.terms_df(spark) if with_terms else None
    res = eng.refactor_all(mixed_df, "Record", terms=terms, reify_rows=reify_rows)
    ref_nodes, ref_edges, ref_row_map = _union_refactor(
        eng, mixed_df, res.specs, "Record", terms=terms, reify_rows=reify_rows)
    assert _bag(res.nodes) == _bag(ref_nodes)
    assert _bag(res.edges) == _bag(ref_edges)
    assert _bag(res.row_map) == _bag(ref_row_map)
    kinds = {r[1] for r in _bag(res.edges)}
    assert {"FROM_DATA", "IS_A", "Subject", "RUNS", "SAME_ROW", "DRIVES", "Age"} <= kinds
    assert ("Term" in kinds) == with_terms
    assert ({"ENROLLS", "OF_ROW"} <= kinds) == reify_rows
    if reify_rows:  # one row node per distinct row with an entity
        assert res.nodes.filter(F.col("class") == "Record").count() == 4


def test_extract_class_entities_equals_union_reference(spark, mixed_df, mixed_model):
    eng = RefactorEngine(spark, mixed_model)
    specs = plan_extraction(mixed_model, "Record")
    res = eng.extract_class_entities(mixed_df, specs, "Record")
    ref_nodes, ref_edges, ref_row_map = _union_refactor(eng, mixed_df, specs, "Record")
    assert _bag(res.nodes) == _bag(ref_nodes)
    assert _bag(res.row_map) == _bag(ref_row_map)
    assert _bag(res.edges) == _bag(ref_edges.filter(F.col("rel_type") == "FROM_DATA"))


def test_two_relationships_to_one_class_extract_it_once(spark, tmp_path):
    """Row->Customer of types Customer and BILLED_TO: ONE Customer spec,
    so no duplicated row_map rows or FROM_DATA edges, and the keyed
    upsert stores each (src, rel_type, dst) once."""
    from tab2neo_spark.kg.materialize import GraphStore

    m = MetadataModel()
    m.create_related_classes_from_list(
        [["Row", "Customer", "Customer"], ["Row", "Customer", "BILLED_TO"],
         ["Row", "Order", "Order"]])
    m.create_relationship("Order", "Customer", "PLACED_BY")
    specs = plan_extraction(m, "Row")
    assert sorted(s.class_label for s in specs) == ["Customer", "Order"]

    df = spark.createDataFrame([("C1", "O1"), ("C1", "O2")], "Customer string, Order string")
    res = RefactorEngine(spark, m).refactor_all(df, "Row")
    assert res.row_map.count() == res.row_map.distinct().count() == 4
    store = GraphStore(spark, str(tmp_path / "g"))
    out = store.write_stage(res.edges, "edges", "r1", "e",
                            partition_by=["rel_type"], dedup_key=["src", "rel_type", "dst"])
    stored = store.read("edges").select("src", "rel_type", "dst")
    assert out["row_count"] == stored.count() == stored.distinct().count()
