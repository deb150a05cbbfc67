"""Table-to-graph refactoring: the ModelApplier core (R1-R9).

The reference turns loaded tabular rows into entity nodes + typed
relationships, driven by the metadata model:

- R1 plan: traverse mappings table->column->class, build per-class
  extraction specs {mode: create/merge, coll: [[col, prop]], lbl}
  (model_appliers/model_applier.py:156-257)
- R2 extract: per spec, project mapped columns, create-or-merge entity
  nodes, FROM_DATA edge back to the source row (model_applier.py:259-295)
- R3 link: for each schema relationship, join entities of both classes on
  their shared source row, emit a typed edge (model_applier.py:297-373)
- R4 IS_A edges instance->Class (model_applier.py:376-430)
- R6 link_to_terms: instance.rdfs_label = term.rdfs_label within class
  (model_applier.py:479-501)
- R9 refactor_all orchestration (model_applier.py:96-135)

The reference loops classes/relationships on the driver, one Cypher call
each, serially — its chief scalability limit (SURVEY §3.3). Here
``refactor_all`` reads the batch ONCE: one projection
computes every spec's presence flag, node id, label, uri and props per
source row, and nodes, row_map and edges are each a single explode of an
array of per-row structs (``when(present, struct(...))``) cut from it.
Typed relationships are (relationship, from-spec, to-spec) pairs
enumerated on the driver from the metadata, so "both ends extracted from
the same source row" needs no join — a per-class union re-scans the
batch once per branch and a ``row_id`` self-join re-scans it per side.
``link_classes`` (the row_map self-join) remains for ``reshape_all``,
which links a graph read back from storage.

Row identity: Neo4j gives every loaded row a node id. A distributed,
resumable engine derives ``row_id = xxhash64(domain, <all columns>)`` —
deterministic across runs and cluster sizes. Byte-identical duplicate rows
therefore collapse to one row node (the reference would keep both; for
merge-mode entities the resulting graph is identical, and the divergence
is documented here and tested).
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tab2neo_spark import schema as S
from tab2neo_spark.model.metadata import MetadataModel

FROM_DATA = "FROM_DATA"
IS_A = "IS_A"
TERM = "Term"
LABEL_PROPS = ("rdfs_label", "rdfs:label")
NULL_MARK = "\x00"  # distinguishes a null value from the string 'null'


@dataclass
class ExtractionSpec:
    """R1 plan entry (model_applier.py:156-257)."""

    class_label: str
    columns: list  # [(source_column, property_name)]
    mode: str = "merge"  # 'merge' | 'create' (Class.create=True semantics)


@dataclass
class RefactorResult:
    nodes: DataFrame     # NODES_SCHEMA (entity + row nodes)
    edges: DataFrame     # EDGES_SCHEMA (typed rels + FROM_DATA + IS_A + Term)
    row_map: DataFrame   # (row_id, class, node_id) - entity ids per source row
    specs: list = field(default_factory=list)


def plan_extraction(model: MetadataModel, table_class: str) -> list[ExtractionSpec]:
    """R1: one spec per class mapped from the table's columns.

    Two mapping paths, like the reference's two schema modes
    (model_applier.py:199-228):

    - MAPS_TO_PROPERTY (``model.property_mappings``): all of a class's
      (column -> property) pairs collapse into ONE spec — the reference's
      ``coll: [[col, prop], ...]`` grouping (test_extract_entities.py
      part_1_A: car gets [['car_color','color'], ['car_make','make']]).
    - MAPS_TO_CLASS analog: a relationship ``table_class -> C`` maps column
      C to class C's rdfs_label — unless C already has property mappings.

    ``create``-mode classes come from ``ClassSpec.create``
    (model_applier.py:220-224).

    At most one spec per class: two relationships ``table_class -> C``
    (different types) still extract C once — a second spec would duplicate
    C's row_map rows and FROM_DATA edges.
    """
    specs = []
    by_class: dict[str, list] = {}
    for pm in model.mappings_for_table(table_class):
        by_class.setdefault(pm.class_label, []).append((pm.column, pm.property_name))
    for class_label, pairs in by_class.items():
        cls = model.classes.get(class_label)
        specs.append(
            ExtractionSpec(
                class_label=class_label,
                columns=pairs,
                mode="create" if (cls and cls.create) else "merge",
            )
        )
    seen = set(by_class)
    for rel in model.relationships:
        if rel.from_label != table_class or rel.to_label in seen:
            continue
        cls = model.classes.get(rel.to_label)
        if cls is None:
            continue
        seen.add(cls.label)
        specs.append(
            ExtractionSpec(
                class_label=cls.label,
                columns=[(cls.label, "rdfs_label")],
                mode="create" if cls.create else "merge",
            )
        )
    return specs


class RefactorEngine:
    def __init__(self, spark: SparkSession, model: MetadataModel):
        self.spark = spark
        self.model = model

    # -- R2 -------------------------------------------------------------------

    def _project(
        self,
        df: DataFrame,
        specs: list[ExtractionSpec],
        domain: str,
        row_class: str | None = None,
    ) -> tuple[DataFrame, list[str]]:
        """The one per-row projection every refactor output is cut from.

        Slot ``i`` — one per spec, plus a row-node pseudo-spec of class
        ``row_class`` when given — is five columns: ``_p{i}`` presence,
        ``_n{i}`` node_id, ``_l{i}`` rdfs_label, ``_u{i}`` uri, ``_m{i}``
        props. Returns (projection, class label per slot). Outputs read the
        slot columns, so each per-spec expression runs once per row however
        many structs use it (the projection is the CSE boundary), and
        columns an output does not read are pruned from its plan.

        merge-mode id = xxhash64(class, value-tuple): equal mapped-value
        combinations collapse globally; create-mode id adds row_id to the
        hash: one node per source row (model_applier.py:246-251).

        Multi-property specs (MAPS_TO_PROPERTY mode): ALL (column ->
        property) pairs of a spec land on ONE node, whose merge identity is
        the tuple of all mapped values — reference
        test_extract_entities.py part_2_D: car{color,make} nodes merge per
        (color, make) pair. The pair whose property is rdfs_label feeds the
        canonical value column; every other pair goes into the open props
        map. A spec is present in a row unless every mapped value is null
        (null keys must not merge — CLD_NAN discipline,
        action.py:1656-1660).

        The row pseudo-spec is present when any spec is: a row with no
        entity gets no row node.

        ``_row_id`` is the deterministic source-row identity (the Source
        Data Row analog). Byte-identical duplicate rows share it, so they
        yield identical structs, which each output's dedup collapses — the
        batch needs no row-dedup shuffle of its own.
        """
        row_id = F.col("_row_id")
        rows = df.withColumn(
            "_row_id", F.xxhash64(F.lit(domain), *[F.col(c) for c in df.columns])
        )
        cols, present = [row_id], []
        for i, spec in enumerate(specs):
            vals = [F.col(src).cast("string") for src, _ in spec.columns]
            present.append(reduce(operator.or_, [v.isNotNull() for v in vals]))
            key_parts = [F.coalesce(v, F.lit(NULL_MARK)) for v in vals]
            salt = [row_id] if spec.mode == "create" else []
            labels = [v for (_, prop), v in zip(spec.columns, vals) if prop in LABEL_PROPS]
            prop_entries = [
                (prop, v) for (_, prop), v in zip(spec.columns, vals)
                if prop not in LABEL_PROPS
            ]
            if prop_entries:
                props = F.map_filter(
                    F.create_map(*[x for p, v in prop_entries for x in (F.lit(p), v)]),
                    lambda k, v: v.isNotNull(),
                )
            else:
                props = F.lit(None).cast("map<string,string>")
            cols += [
                present[-1].alias(f"_p{i}"),
                F.xxhash64(F.lit(spec.class_label), *salt, *key_parts).alias(f"_n{i}"),
                (labels[0] if labels else F.lit(None).cast("string")).alias(f"_l{i}"),
                S.node_uri_col(F.lit(spec.class_label), *vals).alias(f"_u{i}"),
                props.alias(f"_m{i}"),
            ]
        classes = [s.class_label for s in specs]
        if row_class is not None:
            i = len(classes)
            cols += [
                reduce(operator.or_, present).alias(f"_p{i}"),
                row_id.alias(f"_n{i}"),
                row_id.cast("string").alias(f"_l{i}"),
                F.lit(None).cast("string").alias(f"_u{i}"),
                F.lit(None).cast("map<string,string>").alias(f"_m{i}"),
            ]
            classes.append(row_class)
        return rows.select(*cols), classes

    def _rel_pairs(self, classes: list[str]) -> list[tuple[str, int, int]]:
        """R3 on the projection: (rel_type, from-slot, to-slot) for every
        schema relationship whose two ends are both slots. Both slots are
        columns of the same projected row, so "extracted from the same
        source row" — what ``link_classes`` gets from its self-join on
        row_id — needs no join."""
        return [
            (rel.relationship_type, i, j)
            for rel in self.model.relationships
            for i, a in enumerate(classes) if a == rel.from_label
            for j, b in enumerate(classes) if b == rel.to_label
        ]

    def _cut(
        self, proj: DataFrame, classes: list[str], n_specs: int, linked: bool
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(nodes, row_map, edges) of a ``_project`` result, each ONE
        explode of an array of per-row ``when(present, struct)`` values
        followed by one dedup. Edges are FROM_DATA (entity slots only) and,
        when ``linked``, the typed relationships and IS_A of every slot.

        Nodes and edges end in an ``isin`` filter on the partition column
        (``class`` / ``rel_type``) naming the literals the structs hold. It
        drops no row, but the explode (Generate) forgets that those columns
        are literals, and the filter restates it as a plan constraint: a
        keyed write then prunes its anti-join with no probe job over the
        batch (``materialize._constrained_values``)."""

        def fan_out(structs: list) -> DataFrame:
            return proj.select(F.inline(F.array_compact(F.array(*structs))))

        def edge(present, src, rel_type: str, dst):
            return F.when(present, F.struct(
                src.alias("src"), F.lit(rel_type).alias("rel_type"), dst.alias("dst")
            ))

        p = [F.col(f"_p{i}") for i in range(len(classes))]
        n = [F.col(f"_n{i}") for i in range(len(classes))]
        # merge-mode duplicates collapse on the deterministic id; at write
        # time materialize.write_stage's dedup_key would do this for free —
        # the in-memory result honors MERGE semantics the same way
        nodes = fan_out([
            F.when(p[i], F.struct(
                n[i].alias("node_id"), F.lit(c).alias("class"),
                F.col(f"_l{i}").alias("rdfs_label"), F.col(f"_u{i}").alias("uri"),
                F.col(f"_m{i}").alias("props"),
            ))
            for i, c in enumerate(classes)
        ]).dropDuplicates(["node_id"]).filter(F.col("class").isin(classes))
        row_map = fan_out([
            F.when(p[i], F.struct(
                F.col("_row_id").alias("row_id"), F.lit(c).alias("class"),
                n[i].alias("node_id"),
            ))
            for i, c in enumerate(classes)
        ]).dropDuplicates()
        # FROM_DATA provenance: entity -> source row node id
        structs = [edge(p[i], n[i], FROM_DATA, F.col("_row_id")) for i in range(n_specs)]
        rel_types = [FROM_DATA]
        if linked:
            pairs = self._rel_pairs(classes)
            structs += [edge(p[i] & p[j], n[i], t, n[j]) for t, i, j in pairs]
            # R4: instance -> Class-node edges (the class id is a constant)
            structs += [
                edge(p[i], n[i], IS_A, F.xxhash64(F.lit("Class"), F.lit(c)))
                for i, c in enumerate(classes)
            ]
            rel_types += [t for t, _, _ in pairs] + [IS_A]
        edges = fan_out(structs).dropDuplicates().filter(F.col("rel_type").isin(rel_types))
        return nodes, row_map, edges

    def extract_class_entities(
        self, df: DataFrame, specs: list[ExtractionSpec], domain: str
    ) -> RefactorResult:
        """R2: entity nodes per spec + FROM_DATA provenance edges, cut from
        the same single-scan projection as ``refactor_all`` (see
        ``_project`` for node identity and multi-property specs).

        Nodes are deduped on their deterministic id, row_map and FROM_DATA
        edges on the whole row."""
        proj, classes = self._project(df, specs, domain)
        nodes, row_map, edges = self._cut(proj, classes, len(specs), linked=False)
        return RefactorResult(nodes=nodes, edges=edges, row_map=row_map, specs=specs)

    # -- R3 -------------------------------------------------------------------

    def link_classes(self, row_map: DataFrame) -> DataFrame:
        """R3/J7: echo schema relationships into data — entities of classes
        A and B extracted from the SAME source row get a typed edge.

        One self-equi-join of the row_map on row_id covers ALL
        relationships simultaneously (vs the reference's per-relationship
        Cypher loop); the rel-type table is broadcast."""
        rels = [
            (r.from_label, r.to_label, r.relationship_type)
            for r in self.model.relationships
        ]
        if not rels:
            return self.spark.createDataFrame([], S.EDGES_SCHEMA)
        rel_df = F.broadcast(
            self.spark.createDataFrame(
                rels, "from_label string, to_label string, rel_type string"
            )
        )
        a = row_map.select(
            F.col("row_id"), F.col("class").alias("from_label"), F.col("node_id").alias("src")
        )
        b = row_map.select(
            F.col("row_id"), F.col("class").alias("to_label"), F.col("node_id").alias("dst")
        )
        return (
            a.join(b, "row_id")
            .join(rel_df, ["from_label", "to_label"], "inner")
            .select("src", "rel_type", "dst")
            .dropDuplicates()
        )

    # -- R4 -------------------------------------------------------------------

    def is_a_edges(self, row_map: DataFrame) -> DataFrame:
        """R4: instance -> Class-node edges; the class node id is the
        deterministic hash of ('Class', label)."""
        return row_map.select(
            F.col("node_id").alias("src"),
            F.lit(IS_A).alias("rel_type"),
            F.xxhash64(F.lit("Class"), F.col("class")).alias("dst"),
        ).dropDuplicates()

    # -- R5 -------------------------------------------------------------------

    def link_via_is_a(self, nodes: DataFrame, edges: DataFrame) -> DataFrame:
        """R5 (model_applier.py:433-476, reshape_all's path): like
        link_classes, but driven by the MATERIALIZED graph instead of the
        in-flight row_map — entity classes come from the node table, row
        co-membership from FROM_DATA edges, so it works on a graph loaded
        back from storage. Already-present edges are anti-joined away (the
        reference's ``WHERE NOT (ent1)-[]->(ent2)`` guard)."""
        row_map = (
            edges.filter(F.col("rel_type") == FROM_DATA)
            .join(
                nodes.select("node_id", "class"),
                edges["src"] == nodes["node_id"],
                "inner",
            )
            .select(F.col("dst").alias("row_id"), "class", "node_id")
        )
        new_edges = self.link_classes(row_map)
        existing = edges.select("src", "rel_type", "dst")
        return new_edges.join(existing, ["src", "rel_type", "dst"], "left_anti")

    def reshape_all(
        self,
        df: DataFrame,
        table_class: str,
        domain: str | None = None,
        terms: DataFrame | None = None,
    ) -> RefactorResult:
        """The reference's alternative pipeline (model_applier.py:108-113):
        extract -> IS_A -> link_via_is_a (graph-driven) -> terms."""
        domain = domain or table_class
        specs = plan_extraction(self.model, table_class)
        if not specs:
            raise ValueError(f"no extraction specs for table class {table_class!r}")
        res = self.extract_class_entities(df, specs, domain)
        edges = res.edges.unionByName(self.is_a_edges(res.row_map))
        edges = edges.unionByName(self.link_via_is_a(res.nodes, edges))
        if terms is not None:
            edges = edges.unionByName(self.link_to_terms(res.nodes, terms))
        return RefactorResult(nodes=res.nodes, edges=edges, row_map=res.row_map, specs=specs)

    # -- R6 -------------------------------------------------------------------

    def link_to_terms(self, nodes: DataFrame, terms: DataFrame) -> DataFrame:
        """R6/J8: instance.rdfs_label = term.rdfs_label within the class ->
        [:Term] edge; the terms table is controlled terminology
        (metadata-scale) -> broadcast hash join."""
        t = F.broadcast(
            terms.select(
                F.col("class_label"),
                F.col("rdfs_label").alias("term_label"),
                F.xxhash64(F.lit("Term"), F.col("codelist_code"), F.col("term_code")).alias(
                    "term_id"
                ),
            )
        )
        return (
            nodes.join(
                t,
                (nodes["class"] == t["class_label"])
                & (nodes["rdfs_label"] == t["term_label"]),
                "inner",
            )
            .select(
                F.col("node_id").alias("src"),
                F.lit(TERM).alias("rel_type"),
                F.col("term_id").alias("dst"),
            )
            .dropDuplicates()
        )

    # -- R8 -------------------------------------------------------------------

    def label_entities(
        self, nodes: DataFrame, edges: DataFrame, rel_type: str
    ) -> DataFrame:
        """R8 (model_applier.py:547-610): copy a related node's value onto
        the source node as an EXTRA label.

        Neo4j's multi-label ``SET n:<value>`` has no single-column analog;
        extra labels live in a class-membership side table
        ``(node_id, extra_label)`` that readback layers union with the
        primary class. One edge-filtered join, batched-parallel by
        construction (the reference needs apoc.periodic.iterate batches).
        """
        dst_vals = nodes.select(
            F.col("node_id").alias("dst"), F.col("rdfs_label").alias("extra_label")
        )
        return (
            edges.filter(F.col("rel_type") == rel_type)
            .join(dst_vals, "dst")
            .select(F.col("src").alias("node_id"), "extra_label")
            .filter(F.col("extra_label").isNotNull())
            .dropDuplicates()
        )

    def remove_auxiliary_term_labels(
        self, labels: DataFrame, edges: DataFrame
    ) -> DataFrame:
        """Post-reshape cleanup (model_manager.py:1068-1088): drop extra
        labels from Term nodes never extracted from data — i.e. keep only
        label rows whose node has an outgoing FROM_DATA edge. One semi-join
        on node ids (broadcast-able: the FROM_DATA id set projects to a
        single bigint column)."""
        from_data_nodes = (
            edges.filter(F.col("rel_type") == FROM_DATA)
            .select(F.col("src").alias("node_id"))
            .distinct()
        )
        return labels.join(from_data_nodes, "node_id", "left_semi")

    # -- R9 -------------------------------------------------------------------

    def refactor_all(
        self,
        df: DataFrame,
        table_class: str,
        domain: str | None = None,
        terms: DataFrame | None = None,
        reify_rows: bool = False,
    ) -> RefactorResult:
        """R9: plan -> extract -> link -> is_a (-> terms), one lazy DAG.

        The batch is read once; nodes, row_map and edges (FROM_DATA,
        typed relationships, IS_A) are each one explode over the shared
        per-row projection (``_project``/``_cut``) followed by one dedup,
        which also collapses byte-identical duplicate rows — no per-class
        union, no ``row_id`` self-join, no separate row-dedup shuffle.
        ``terms`` adds one broadcast join on ``nodes``.

        ``reify_rows`` is the reference's ``schema_CLASS`` mode
        (model_applier.py mode flag; exercised by
        tests_model_manager/test_create_model_from_data.py): each source
        row becomes a node of ``table_class``, so model relationships
        declared FROM the table class (``create_model_from_data``'s star
        schema) link row nodes to their extracted entities and the
        readback can include the table class itself."""
        domain = domain or table_class
        # reified row node ids are xxhash64(domain, cols): with domain ==
        # table_class the id embeds its class, preserving the
        # key-determines-partition contract the partition-pruned upsert
        # relies on (materialize._existing_for_dedup). A shared domain
        # reified under TWO table classes would break it — refuse.
        if reify_rows and domain != table_class:
            raise ValueError(
                "reify_rows requires domain == table_class: row node ids "
                "embed the domain, and reifying one domain under a "
                "different class label would let the same node_id appear "
                "in two class partitions"
            )
        specs = plan_extraction(self.model, table_class)
        if not specs:
            raise ValueError(f"no extraction specs for table class {table_class!r}")
        proj, classes = self._project(
            df, specs, domain, row_class=table_class if reify_rows else None
        )
        nodes, row_map, edges = self._cut(proj, classes, len(specs), linked=True)
        if terms is not None:
            edges = edges.unionByName(self.link_to_terms(nodes, terms))
        return RefactorResult(nodes=nodes, edges=edges, row_map=row_map, specs=specs)
