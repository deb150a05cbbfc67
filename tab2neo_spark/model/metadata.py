"""Metadata model: Class / Relationship / Term catalog (ModelManager analog).

The reference stores the schema *as graph data* — Class nodes, reified
Relationship nodes ``(:Class)<-[:FROM]-(:Relationship)-[:TO]->(:Class)``,
SUBCLASS_OF hierarchy (depth<=50), Term nodes
(model_managers/model_manager.py:48-315, 742-819).  Here the catalog is a
plain in-memory model held on the driver and broadcast into joins — it is
metadata-scale (thousands of rows at most), so driver-side planning over it
is the right distribution strategy (same conclusion as SURVEY §2.11).

Implements the ModelManager surface the query/refactor layers need:
  - create/delete class, relationship, subclass (model_manager.py:48-394)
  - SUBCLASS_OF transitive closure (the ``*0..50`` Cypher patterns,
    model_manager.py:487-543) — precomputed once, iterative to fixpoint
  - gen_default_reltype: default rel type = TO-class label
    (model_manager.py:33-37)
  - infer_rels: for a set of labels, pick the connecting relationship per
    pair, preferring child-side (subclass) matches then first-by-order —
    (model_manager.py:549-625)
  - translate_to_shortlabel (model_manager.py:627-697)
  - create_model_from_data: trivial star schema from a table's columns
    (model_manager.py:1245-1289)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

MAX_SUBCLASS_DEPTH = 50  # reference: model_manager.py:25


@dataclass(frozen=True)
class ClassSpec:
    label: str
    short_label: str | None = None
    data_type: str | None = None
    derived: bool = False
    create: bool = False  # create-mode: duplicates must NOT merge
    # pipe-separated class labels whose values key this class's URI
    # (derivation_method.py:1031-1095 merge_build_uri_from_schema)
    classes_for_uri: str | None = None


@dataclass(frozen=True)
class RelSpec:
    from_label: str
    to_label: str
    relationship_type: str
    optional: bool = False


@dataclass(frozen=True)
class PropertyMapping:
    """Column -> (Class, Property) mapping — the MAPS_TO_PROPERTY path
    (model_manager.py:1126-1199, model_applier.py:199-228). ``table_class``
    '*' applies to any table."""

    table_class: str
    column: str
    class_label: str
    property_name: str


@dataclass(frozen=True)
class TermSpec:
    class_label: str
    codelist_code: str
    term_code: str
    rdfs_label: str
    order: int | None = None


@dataclass
class MetadataModel:
    classes: dict[str, ClassSpec] = field(default_factory=dict)
    relationships: list[RelSpec] = field(default_factory=list)
    subclass_of: list[tuple[str, str]] = field(default_factory=list)  # (child, parent)
    terms: list[TermSpec] = field(default_factory=list)
    same_as: list[tuple[str, str]] = field(default_factory=list)
    # directed Term-level SAME_AS: ((class, ident-props...), (class, ident-props...))
    # — create_same_as_ct / remove_same_as_ct (model_manager.py:941-1001)
    term_same_as: list[tuple[tuple, tuple]] = field(default_factory=list)
    property_mappings: list[PropertyMapping] = field(default_factory=list)
    # subclass-edge JSON conditions keyed by (child, parent)
    # (model_manager.py:237-242: SET sub.conditions = toJson(cond))
    subclass_conditions: dict[tuple[str, str], dict] = field(default_factory=dict)

    # -- DDL surface (model_manager.py:48-394) ------------------------------

    def create_class(self, label: str, **kw) -> ClassSpec:
        spec = ClassSpec(label=label, **kw)
        self.classes.setdefault(label, spec)
        return self.classes[label]

    def delete_class(self, label: str) -> None:
        self.classes.pop(label, None)
        self.relationships = [
            r for r in self.relationships if label not in (r.from_label, r.to_label)
        ]
        self.subclass_of = [p for p in self.subclass_of if label not in p]

    def create_relationship(
        self, from_label: str, to_label: str, relationship_type: str | None = None
    ) -> RelSpec:
        # default rel type = TO-class label (model_manager.py:33-37)
        rel = RelSpec(from_label, to_label, relationship_type or to_label)
        if rel not in self.relationships:
            self.relationships.append(rel)
        return rel

    def create_related_classes_from_list(
        self, rel_list: list[list[str]]
    ) -> list[str]:
        """[[from, to, type], ...] -> classes + rels (model_manager.py:182-218)."""
        out = []
        for frm, to, typ in rel_list:
            self.create_class(frm)
            self.create_class(to)
            self.create_relationship(frm, to, typ)
            out.extend([frm, to])
        return sorted(set(out))

    def create_subclass(self, parent: str, child: str, conditions: dict | None = None) -> None:
        """SUBCLASS_OF edge; optional JSON conditions ride on the edge
        (model_manager.py:220-249, 3-element subclass_list form)."""
        self.create_class(parent)
        self.create_class(child)
        if (child, parent) not in self.subclass_of:
            self.subclass_of.append((child, parent))
        if conditions is not None:
            self.subclass_conditions[(child, parent)] = dict(conditions)

    def set_short_label(self, label: str, short_label: str) -> None:
        """model_manager.py:172-180."""
        from dataclasses import replace

        if label not in self.classes:
            raise KeyError(f"unknown class {label!r}")
        self.classes[label] = replace(self.classes[label], short_label=short_label)

    def delete_relationship(self, rel_list: list[list[str]]) -> None:
        """Delete [from, to, type] triplets (model_manager.py:374-394)."""
        doomed = {tuple(r) for r in rel_list}
        self.relationships = [
            r
            for r in self.relationships
            if (r.from_label, r.to_label, r.relationship_type) not in doomed
        ]

    def create_subclasses(
        self,
        subclass_list: list[list],
        identifier: str = "label",
        match_classes: bool = True,
    ) -> list[list[str]]:
        """The reference's list-form create_subclass
        (model_manager.py:220-257): ``[[parent, child[, conditions]], …]``;
        with ``match_classes`` absent classes skip the pair (MATCH
        semantics), else they are created (MERGE). After the edges land,
        relationships propagate DOWN to children and terms propagate UP to
        parents — exactly the reference's automatic post-pass."""
        out: list[list[str]] = []
        for entry in subclass_list:
            parent, child = entry[0], entry[1]
            cond = entry[2] if len(entry) > 2 else None
            p = self._class_by_identifier(parent, identifier)
            c = self._class_by_identifier(child, identifier)
            if match_classes and (p is None or c is None):
                continue
            self.create_subclass(p or parent, c or child, conditions=cond)
            out.append([parent, child] if cond is None else [parent, child, cond])
        if out:
            self.propagate_rels_to_child_class()
            self.propagate_terms_to_parent_class()
        return out

    def _doomed_edges(
        self, subclass_list: list[list[str]], identifier: str
    ) -> set[tuple[str, str]]:
        out = set()
        for parent, child in ((e[0], e[1]) for e in subclass_list):
            p = self._class_by_identifier(parent, identifier) or parent
            c = self._class_by_identifier(child, identifier) or child
            out.add((c, p))
        return out

    def delete_terms_of_parent_class(
        self, subclass_list: list[list[str]], identifier: str = "label"
    ) -> int:
        """Undo upward term propagation for the given ``[parent, child]``
        edges (model_manager.py:317-332): strip the child's term keys from
        EXACTLY the ancestors that become unreachable from the child once
        those edges are gone — ancestors the child still reaches through
        OTHER subclass edges keep their copies (the reference strips every
        ancestor unconditionally, leaving multi-parent hierarchies
        inconsistent; divergence documented). Returns terms removed."""
        doomed = self._doomed_edges(subclass_list, identifier)
        full = self.subclass_closure()
        rest = self.subclass_closure(
            [e for e in self.subclass_of if e not in doomed]
        )
        removed = 0
        for child, _parent in doomed:
            child_keys = {
                (t.codelist_code, t.term_code)
                for t in self.terms if t.class_label == child
            }
            strip = (
                {a for ch, a, d in full if ch == child and d > 0}
                - {a for ch, a, d in rest if ch == child and d > 0}
            )
            before = len(self.terms)
            self.terms = [
                t for t in self.terms
                if not (t.class_label in strip
                        and (t.codelist_code, t.term_code) in child_keys)
            ]
            removed += before - len(self.terms)
        return removed

    def delete_rels_of_child_class(
        self, subclass_list: list[list[str]], identifier: str = "label"
    ) -> int:
        """Undo downward rel propagation for the given ``[parent, child]``
        edges (model_manager.py:334-348): from EXACTLY the descendants of
        the parent that become unreachable once those edges are gone,
        remove the direction-preserving copies of the parent's
        relationships — outgoing (parent->T) copies as (desc->T), incoming
        (X->parent) copies as (X->desc). (The reference deletes only
        FROM-side patterns and ignores remaining-edge justification;
        divergence documented.) Returns rels removed."""
        doomed = self._doomed_edges(subclass_list, identifier)
        full = self.subclass_closure()
        rest = self.subclass_closure(
            [e for e in self.subclass_of if e not in doomed]
        )
        removed = 0
        for _child, parent in doomed:
            strip = (
                {ch for ch, a, d in full if a == parent and d > 0}
                - {ch for ch, a, d in rest if a == parent and d > 0}
            )
            out_tt = {
                (r.relationship_type, r.to_label)
                for r in self.relationships if r.from_label == parent
            }
            in_tt = {
                (r.relationship_type, r.from_label)
                for r in self.relationships if r.to_label == parent
            }
            before = len(self.relationships)
            self.relationships = [
                r for r in self.relationships
                if not (
                    (r.from_label in strip
                     and (r.relationship_type, r.to_label) in out_tt)
                    or (r.to_label in strip
                        and (r.relationship_type, r.from_label) in in_tt)
                )
            ]
            removed += before - len(self.relationships)
        return removed

    def delete_subclasses(
        self, subclass_list: list[list[str]], identifier: str = "label"
    ) -> None:
        """Delete [parent, child] SUBCLASS_OF edges AND the artifacts
        propagation created through them: inherited terms leave the
        parents, inherited rels leave the children
        (model_manager.py:349-372 — same call order: cleanup first, while
        the edges still resolve the hierarchies)."""
        self.delete_terms_of_parent_class(subclass_list, identifier)
        self.delete_rels_of_child_class(subclass_list, identifier)
        for parent, child in ((e[0], e[1]) for e in subclass_list):
            p = self._class_by_identifier(parent, identifier) or parent
            c = self._class_by_identifier(child, identifier) or child
            self.subclass_of = [x for x in self.subclass_of if x != (c, p)]
            self.subclass_conditions.pop((c, p), None)

    def create_custom_mappings_from_dict(self, groupings: dict | None = None) -> None:
        """``{table|'*': {Class: [column, ...]}}`` -> property mappings; the
        column name doubles as the Property label, exactly like the
        reference's MERGE on matching ``_columnname_``
        (model_manager.py:1126-1199)."""
        for table, grouping in (groupings or {}).items():
            for cls, columns in grouping.items():
                self.create_class(cls)
                for col in columns:
                    pm = PropertyMapping(table, col, cls, col)
                    if pm not in self.property_mappings:
                        self.property_mappings.append(pm)

    def mappings_for_table(self, table_class: str) -> list[PropertyMapping]:
        """Mappings applying to one table ('*' = wildcard), in insert order."""
        return [
            pm
            for pm in self.property_mappings
            if pm.table_class in (table_class, "*")
        ]

    def remove_unmapped_classes(self, table_classes: list[str]) -> None:
        """Drop classes with no mapping path from any of the given tables
        (model_manager.py:1054-1066): mapped = target of a relationship from
        a table class, carries a property mapping, or is an ancestor of a
        mapped class through SUBCLASS_OF."""
        tables = set(table_classes)
        mapped = {pm.class_label for pm in self.property_mappings}
        mapped |= {
            r.to_label for r in self.relationships if r.from_label in tables
        }
        # ancestors of mapped classes stay (SUBCLASS_OF*0..50 in the query)
        anc: dict[str, set[str]] = {}
        for child, a, _ in self.subclass_closure():
            anc.setdefault(child, set()).add(a)
        keep = set(tables)
        for m in mapped:
            keep |= anc.get(m, {m})
        for label in [lb for lb in self.classes if lb not in keep]:
            self.delete_class(label)

    def add_term(self, term: TermSpec) -> None:
        self.terms.append(term)

    # -- CT lifecycle (model_manager.py:742-1001) -----------------------------

    # reference Term property names -> TermSpec fields
    TERM_PROP_FIELDS = {
        "rdfs:label": "rdfs_label",
        "Codelist Code": "codelist_code",
        "Term Code": "term_code",
        "Order": "order",
    }

    def _term_prop(self, t: TermSpec, prop: str):
        f = self.TERM_PROP_FIELDS.get(prop)
        if f is None:
            raise KeyError(
                f"unknown Term property {prop!r}; known: {sorted(self.TERM_PROP_FIELDS)}"
            )
        return getattr(t, f)

    def _class_by_identifier(self, value: str, identifier: str) -> str | None:
        if identifier == "label":
            return value if value in self.classes else None
        for c in self.classes.values():
            if getattr(c, identifier, None) == value:
                return c.label
        return None

    def get_missing_classes(self, values: list, identifier: str = "label") -> set:
        """Subset of ``values`` with no matching class by ``identifier``
        (model_manager.py:153-170)."""
        return {
            v for v in values if self._class_by_identifier(v, identifier) is None
        }

    def create_ct(
        self,
        controlled_terminology: dict,
        identifier: str = "label",
        order_terms: bool = True,
        merge_on: list[str] | None = None,
    ) -> list[TermSpec]:
        """``{class_ident: [{'Codelist Code':…, 'Term Code':…, 'rdfs:label':…}]}``
        -> Term rows linked to the class (model_manager.py:742-819).

        ``merge_on`` prevents duplicates on those identifying props. With
        ``order_terms``, terms without an Order get ascending integers
        continuing from the class's current max, assigned in
        (Codelist Code, Term Code) order — exactly the reference's q2; the
        NEXT chain is derived from Order at read time (A7/term_chain), not
        stored."""
        from dataclasses import replace

        missing = self.get_missing_classes(list(controlled_terminology), identifier)
        assert not missing, (
            f"Cannot create controlled terminology for nonexistent classes: {missing}"
        )
        created: list[TermSpec] = []
        for cls_ident, term_rows in controlled_terminology.items():
            label = self._class_by_identifier(cls_ident, identifier)
            for props in term_rows:
                updates = {
                    fld: props[p]
                    for p, fld in self.TERM_PROP_FIELDS.items() if p in props
                }
                match_i = None
                if merge_on:
                    match_i = next(
                        (i for i, t in enumerate(self.terms)
                         if t.class_label == label
                         and all(self._term_prop(t, p) == props.get(p)
                                 for p in merge_on)),
                        None,
                    )
                if match_i is not None:
                    # apoc.merge.node ON MATCH SET: update the given props,
                    # keep the rest (incl. Order) — model_manager.py:776-785
                    self.terms[match_i] = replace(self.terms[match_i], **updates)
                    continue
                # absent props stay None, exactly like absent node props
                spec = TermSpec(
                    class_label=label,
                    codelist_code=props.get("Codelist Code"),
                    term_code=props.get("Term Code"),
                    rdfs_label=props.get("rdfs:label"),
                    order=props.get("Order"),
                )
                self.terms.append(spec)
                created.append(spec)
        if order_terms:
            for cls_ident in controlled_terminology:
                label = self._class_by_identifier(cls_ident, identifier)
                have = [t.order for t in self.terms
                        if t.class_label == label and t.order is not None]
                nxt = (max(have) + 1) if have else 1
                # None-safe sort key (Cypher ORDER BY tolerates nulls;
                # Python tuples of None do not): absent codes sort first
                unordered = sorted(
                    (i for i, t in enumerate(self.terms)
                     if t.class_label == label and t.order is None),
                    key=lambda i: (self.terms[i].codelist_code or "",
                                   self.terms[i].term_code or ""),
                )
                for i in unordered:
                    self.terms[i] = replace(self.terms[i], order=nxt)
                    nxt += 1
        return created

    def get_class_ct(self, class_: str, ct_prop_name: str = "rdfs:label") -> list:
        """Distinct term property values for one class, insertion-ordered
        (model_manager.py:819-833)."""
        seen, out = set(), []
        for t in self.terms:
            if t.class_label != class_:
                continue
            v = self._term_prop(t, ct_prop_name)
            # Cypher's collect() skips nulls
            if v is not None and v not in seen:
                seen.add(v)
                out.append(v)
        return out

    def get_class_ct_map(
        self,
        classes: list[str],
        ct_props: list[str] | None = None,
        identifier: str = "label",
    ) -> dict:
        """``{class_ident: [{prop: value}, …]}`` for each class WITH terms
        (classes without terms are absent, as in the reference's
        MATCH-based collect, model_manager.py:835-880)."""
        if isinstance(classes, str):
            classes = [classes]
        if ct_props is None:
            ct_props = ["rdfs:label"]
        elif isinstance(ct_props, str):
            ct_props = [ct_props]
        out: dict = {}
        for cls_ident in classes:
            label = self._class_by_identifier(cls_ident, identifier)
            rows = [
                {p: self._term_prop(t, p) for p in ct_props}
                for t in self.terms
                if t.class_label == label
            ]
            if rows:
                out[cls_ident] = rows
        return out

    def get_all_ct(
        self,
        term_props: list[str],
        class_prop: str = "label",
        derived_only: bool = False,
    ) -> list[dict]:
        """Flat ``[{class_prop: ident, prop: value, …}, …]`` over ALL terms
        (model_manager.py:905-939)."""
        assert len(term_props) >= 1, "Must include at least 1 term_prop"
        assert class_prop not in term_props, "Class prop cannot be in term props"
        out = []
        for t in self.terms:
            c = self.classes.get(t.class_label)
            if derived_only and not (c and c.derived):
                continue
            ident = getattr(c, class_prop, t.class_label) if c else t.class_label
            out.append({class_prop: ident,
                        **{p: self._term_prop(t, p) for p in term_props}})
        return out

    def delete_ct(
        self,
        controlled_terminology: dict,
        ct_props: list[str],
        identifier: str = "label",
    ) -> int:
        """Delete terms matching per-class property-value tuples; DETACH
        semantics also drop the term's SAME_AS links
        (model_manager.py:882-903). Returns the number of terms deleted."""
        doomed: set[tuple] = set()
        for cls_ident, rows in controlled_terminology.items():
            label = self._class_by_identifier(cls_ident, identifier)
            for vals in rows:
                doomed.add((label, tuple(vals)))
        kept, removed = [], []
        for t in self.terms:
            key = (t.class_label, tuple(self._term_prop(t, p) for p in ct_props))
            (removed if key in doomed else kept).append(t)
        self.terms = kept
        gone = {(t.class_label, t.codelist_code, t.term_code) for t in removed}
        self.term_same_as = [
            (a, b) for a, b in self.term_same_as if a not in gone and b not in gone
        ]
        return len(removed)

    def _resolve_term(self, class_label: str | None, props: dict,
                      term_identifiers: list[str]) -> tuple | None:
        for t in self.terms:
            if t.class_label == class_label and all(
                self._term_prop(t, p) == props[p] for p in term_identifiers
            ):
                return (t.class_label, t.codelist_code, t.term_code)
        return None

    @staticmethod
    def _sa_side(entry: dict, side: str, term_identifiers: list[str]) -> dict:
        return {
            p: entry[f"{side}_{p.lower().replace(' ', '_')}"]
            for p in term_identifiers
        }

    def create_same_as_ct(
        self,
        same_as_terms: list[dict],
        term_identifiers: list[str],
        identifier: str = "label",
    ) -> int:
        """Directed Term-level SAME_AS (model_manager.py:941-976): each
        entry names from_class/to_class plus ``from_<prop>``/``to_<prop>``
        for every term identifier (lowercased, spaces->underscores).
        MATCH semantics: both terms must exist; MERGE semantics: no dups."""
        added = 0
        for entry in same_as_terms:
            t1 = self._resolve_term(
                self._class_by_identifier(entry["from_class"], identifier),
                self._sa_side(entry, "from", term_identifiers), term_identifiers)
            t2 = self._resolve_term(
                self._class_by_identifier(entry["to_class"], identifier),
                self._sa_side(entry, "to", term_identifiers), term_identifiers)
            if t1 is None or t2 is None:
                continue
            if (t1, t2) not in self.term_same_as:
                self.term_same_as.append((t1, t2))
                added += 1
        return added

    def remove_same_as_ct(
        self,
        same_as_terms: list[dict],
        term_identifiers: list[str],
        identifier: str = "label",
    ) -> int:
        """Inverse of :meth:`create_same_as_ct` (model_manager.py:978-1001)."""
        removed = 0
        for entry in same_as_terms:
            t1 = self._resolve_term(
                self._class_by_identifier(entry["from_class"], identifier),
                self._sa_side(entry, "from", term_identifiers), term_identifiers)
            t2 = self._resolve_term(
                self._class_by_identifier(entry["to_class"], identifier),
                self._sa_side(entry, "to", term_identifiers), term_identifiers)
            if t1 is None or t2 is None:
                continue
            before = len(self.term_same_as)
            self.term_same_as = [p for p in self.term_same_as if p != (t1, t2)]
            removed += before - len(self.term_same_as)
        return removed

    # -- relationship propagation over SUBCLASS_OF (model_manager.py:1003-1040)

    def _propagate_rels(self, mapping: dict[str, set[str]]) -> int:
        added = 0
        for r in list(self.relationships):
            for end_label, other, flip in (
                (r.from_label, r.to_label, False),
                (r.to_label, r.from_label, True),
            ):
                for source in sorted(mapping.get(end_label, ())):
                    new = (
                        RelSpec(other, source, r.relationship_type)
                        if flip
                        else RelSpec(source, other, r.relationship_type)
                    )
                    if new not in self.relationships:
                        self.relationships.append(new)
                        added += 1
        return added

    def propagate_rels_to_parent_class(self) -> int:
        """Copy each relationship endpoint up to every SUBCLASS_OF ancestor
        (model_manager.py:1003-1019): a rel touching child class ``c`` is
        re-created with each ancestor substituted for ``c``, same type and
        direction. Idempotent; returns rels added."""
        anc: dict[str, set[str]] = {}
        for child, a, d in self.subclass_closure():
            if d > 0:
                anc.setdefault(child, set()).add(a)
        return self._propagate_rels(anc)

    def propagate_rels_to_child_class(self) -> int:
        """Copy each relationship endpoint down to every SUBCLASS_OF
        descendant (model_manager.py:1021-1040)."""
        desc: dict[str, set[str]] = {}
        for child, a, d in self.subclass_closure():
            if d > 0:
                desc.setdefault(a, set()).add(child)
        return self._propagate_rels(desc)

    def create_custom_rels_from_list(
        self, rels: list[list[str]], create_if_absent: bool = False
    ) -> None:
        """CLASS_RELATES_TO edges between class pairs
        (model_manager.py:1201-1243): non-string pairs are skipped; absent
        classes are created only when ``create_if_absent`` (otherwise the
        pair is skipped, the reference's MATCH-no-row behavior)."""
        for pair in rels or []:
            left, right = pair[0], pair[1]
            if not (isinstance(left, str) and isinstance(right, str)):
                continue
            if create_if_absent:
                self.create_class(left)
                self.create_class(right)
            elif left not in self.classes or right not in self.classes:
                continue
            self.create_relationship(left, right, "CLASS_RELATES_TO")

    def delete_from_graph(self) -> dict[str, int]:
        """Teardown of everything derivation added (model_manager.py:1376-1404):
        derived classes with their terms and touching relationships, plus
        ALL Term-level SAME_AS links. Method specs are plain JSON in this
        engine (pipeline/runner.py spec factory) — there are no Method
        nodes to delete. Returns per-kind delete counts."""
        derived = {lb for lb, c in self.classes.items() if c.derived}
        n_terms = len([t for t in self.terms if t.class_label in derived])
        self.terms = [t for t in self.terms if t.class_label not in derived]
        n_rels = len([
            r for r in self.relationships
            if r.from_label in derived or r.to_label in derived
        ])
        n_sa = len(self.term_same_as)
        self.term_same_as = []
        for lb in derived:
            self.delete_class(lb)
        return {"classes": len(derived), "terms": n_terms,
                "relationships": n_rels, "same_as": n_sa}

    def propagate_terms_to_parent_class(self) -> int:
        """Copy every child class's terms to its SUBCLASS_OF ancestors
        (model_manager.py:1041-1051's HAS_CONTROLLED_TERM MERGE). Returns
        the number of terms added; idempotent."""
        anc: dict[str, set[str]] = {}
        for child, a, d in self.subclass_closure():
            if d > 0:
                anc.setdefault(child, set()).add(a)
        existing = {
            (t.class_label, t.codelist_code, t.term_code) for t in self.terms
        }
        added = 0
        for t in list(self.terms):
            for parent in anc.get(t.class_label, ()):
                key = (parent, t.codelist_code, t.term_code)
                if key not in existing:
                    existing.add(key)
                    self.terms.append(
                        TermSpec(parent, t.codelist_code, t.term_code,
                                 t.rdfs_label, t.order)
                    )
                    added += 1
        return added

    # -- schema query getters (model_manager.py:396-545) ----------------------

    def get_all_classes(self) -> list[str]:
        """model_manager.py:396-398."""
        return [c["Class"] for c in self.get_all_classes_with_nodeids()]

    def get_all_classes_with_nodeids(
        self, include_id: bool = False, sort: bool = True
    ) -> list[dict]:
        """``[{'Class': label, 'short_label': …[, '_id_Class': int]}]``
        (model_manager.py:400-422). ``_id_Class`` is a CATALOG-ONLY stable
        identifier (md5-derived) for callers that need a numeric handle —
        it is NOT a graph node id: materialized Class nodes use
        ``xxhash64('Class', label)`` (kg/refactor.is_a_edges); join on the
        label, not on this id. (The reference returns Neo4j-internal ids,
        which are equally non-portable.)"""
        import hashlib as _hl

        out = [
            {"Class": lb, "short_label": spec.short_label}
            for lb, spec in self.classes.items()
        ]
        if sort:
            out.sort(key=lambda d: d["Class"])
        if include_id:
            for d in out:
                d["_id_Class"] = int.from_bytes(
                    _hl.md5(f"Class:{d['Class']}".encode()).digest()[:8], "big"
                ) >> 1
        return out

    def get_all_classes_props(self, props: list[str]) -> list[dict]:
        """Per-class property projection (model_manager.py:424-446)."""
        assert len(props) > 0, "Must specify at least one property to return!"
        assert len(props) == len(set(props)), "Specified props must not contain duplicates!"
        return [
            {p: getattr(spec, p, None) for p in props}
            for spec in self.classes.values()
        ]

    def get_subclasses_where(self, where=None, identifier: str = "label") -> list[dict]:
        """``[{'parent':…, 'child':…, 'conditions':…}]``; ``where`` is a
        predicate over (parent_label, child_label) — the Python analog of
        the reference's Cypher WHERE string (model_manager.py:448-457)."""

        def ident(lb: str):
            c = self.classes.get(lb)
            return getattr(c, identifier, lb) if c else lb

        return [
            {"parent": ident(p), "child": ident(c),
             "conditions": self.subclass_conditions.get((c, p))}
            for c, p in self.subclass_of
            if where is None or where(p, c)
        ]

    def get_rels_where(self, where=None, return_prop: str = "label") -> list[dict]:
        """All schema relationships, optionally filtered
        (model_manager.py:459-478). ``where`` is a predicate over
        (from_spec, to_spec, rel_spec) — the Python analog of the
        reference's Cypher WHERE string (which cannot be parsed here)."""

        def ident(lb: str):
            c = self.classes.get(lb)
            return getattr(c, return_prop, lb) if c else lb

        return [
            {"from": ident(r.from_label), "to": ident(r.to_label),
             "type": r.relationship_type, "optional": r.optional or None}
            for r in self.relationships
            if where is None
            or where(self.classes.get(r.from_label), self.classes.get(r.to_label), r)
        ]

    def _vertical_family(self, label: str) -> set[str]:
        """All classes on any leaf-to-root SUBCLASS_OF path through
        ``label``'s descendants — the reference's c1low/c1high path-nodes
        set (model_manager.py:516-545)."""
        closure = self.subclass_closure()
        has_child = {p for _, p in self.subclass_of}
        desc = {c for c, a, _ in closure if a == label}
        leaves = {c for c in desc if c not in has_child} or {label}
        fam: set[str] = set()
        for leaf in leaves:
            fam |= {a for c, a, _ in closure if c == leaf}
        return fam

    def get_rels_from_labels(self, labels: list[str]) -> list[dict]:
        """Schema relationships touching the vertical families of the given
        labels, (from, to, type)-sorted (model_manager.py:480-505)."""
        fam: set[str] = set()
        for lb in labels:
            fam |= self._vertical_family(lb)
        rels = [
            {"from": r.from_label, "to": r.to_label,
             "type": r.relationship_type, "optional": r.optional or None}
            for r in self.relationships
            if r.from_label in fam or r.to_label in fam
        ]
        rels.sort(key=lambda d: (d["from"], d["to"], d["type"] or ""))
        return rels

    @staticmethod
    def get_labels_from_rels_list(rels_list: list[dict]) -> list[str]:
        """Distinct from/to labels in first-seen order (model_manager.py:507-514)."""
        labels: list[str] = []
        for rel in rels_list:
            for key in ("from", "to"):
                if rel.get(key) not in labels:
                    labels.append(rel.get(key))
        return labels

    def get_rels_btw2(self, label1: str, label2: str, identifier: str = "label") -> list[dict]:
        """Schema relationships between the vertical families of two
        classes, either direction (model_manager.py:516-545)."""
        l1 = self._class_by_identifier(label1, identifier)
        l2 = self._class_by_identifier(label2, identifier)
        fam1, fam2 = self._vertical_family(l1), self._vertical_family(l2)

        def ident(lb: str):
            c = self.classes.get(lb)
            return getattr(c, identifier, lb) if c else lb

        rels = [
            {"from": ident(r.from_label), "to": ident(r.to_label),
             "type": r.relationship_type}
            for r in self.relationships
            if (r.from_label in fam1 and r.to_label in fam2)
            or (r.from_label in fam2 and r.to_label in fam1)
        ]
        rels.sort(key=lambda d: (d["from"], d["to"], d["type"] or ""))
        return rels

    # -- closure & inference -------------------------------------------------

    def subclass_closure(
        self, edges: list[tuple[str, str]] | None = None
    ) -> set[tuple[str, str, int]]:
        """Transitive (child, ancestor, depth), depth<=50, incl. depth 0
        self-pairs — replaces the Cypher ``*0..50`` traversals. ``edges``
        overrides the edge set (used to compute what remains reachable
        after hypothetically removing some SUBCLASS_OF edges)."""
        edge_list = self.subclass_of if edges is None else edges
        closure: set[tuple[str, str, int]] = {(c, c, 0) for c in self.classes}
        frontier = {(c, p, 1) for c, p in edge_list}
        parents: dict[str, list[str]] = {}
        for c, p in edge_list:
            parents.setdefault(c, []).append(p)
        while frontier:
            closure |= frontier
            nxt = set()
            for child, anc, d in frontier:
                if d >= MAX_SUBCLASS_DEPTH:
                    continue
                for p in parents.get(anc, []):
                    t = (child, p, d + 1)
                    if t not in closure:
                        nxt.add(t)
            frontier = nxt
        return closure

    def infer_rels(self, labels: list[str]) -> list[RelSpec]:
        """For each ordered label pair, find a connecting relationship
        through the subclass closure; prefer exact-label matches, then
        child-side subclass paths, then list order (model_manager.py:549-625)."""
        anc: dict[str, set[str]] = {}
        for child, a, _ in self.subclass_closure():
            anc.setdefault(child, set()).add(a)
        found: list[RelSpec] = []
        for i, a in enumerate(labels):
            for b in labels[i + 1 :]:
                candidates: list[tuple[int, int, RelSpec]] = []
                for order, r in enumerate(self.relationships):
                    for frm, to in ((a, b), (b, a)):
                        if r.from_label in anc.get(frm, {frm}) and r.to_label in anc.get(
                            to, {to}
                        ):
                            exact = 0 if (r.from_label == frm and r.to_label == to) else 1
                            candidates.append((exact, order, r))
                if candidates:
                    candidates.sort(key=lambda t: (t[0], t[1]))
                    found.append(candidates[0][2])
        return found

    def translate_to_shortlabel(self, labels: list[str]) -> list[str]:
        return [
            (self.classes[lb].short_label or lb) if lb in self.classes else lb
            for lb in labels
        ]

    def translate_query_to_shortlabel(
        self,
        labels: list[str] | None,
        rels: list[dict] | None = None,
        labels_to_pack: dict | None = None,
        where_map: dict | None = None,
        where_rel_map: dict | None = None,
        use_rel_labels: bool = True,
    ):
        """Whole-query shortlabel translation (model_manager.py:627-697):
        labels -> {'label','short_label'} dicts, rel from/to renamed,
        labels_to_pack keys+values renamed, where-map keys renamed. A rel's
        own ``short_label`` overrides the TO-class's when ``use_rel_labels``
        (reference :663-666)."""
        labels = labels or []
        rels = rels or []

        def short(lb: str) -> str:
            c = self.classes.get(lb)
            return (c.short_label or lb) if c else lb

        mapping = {lb: short(lb) for lb in labels}
        for rel in rels:
            for k in ("from", "to"):
                if rel.get(k) is not None:
                    mapping.setdefault(rel[k], short(rel[k]))
        if labels_to_pack:
            for key, value in labels_to_pack.items():
                mapping.setdefault(key, short(key))
                vals = [value] if isinstance(value, str) else list(value)
                for v in vals:
                    mapping.setdefault(v, short(v))
        if use_rel_labels:
            for rel in rels:
                if rel.get("short_label"):
                    mapping[rel["to"]] = rel["short_label"]

        out_labels = [{"label": lb, "short_label": mapping[lb]} for lb in labels]
        out_rels = [
            {**rel, "from": mapping[rel["from"]], "to": mapping[rel["to"]]}
            for rel in rels
        ]
        out_pack = None
        if labels_to_pack is not None:
            out_pack = {
                mapping[k]: (
                    mapping[v] if isinstance(v, str) else [mapping[i] for i in v]
                )
                for k, v in labels_to_pack.items()
            }
        out_where = {mapping.get(k, short(k)): v for k, v in (where_map or {}).items()}
        out_where_rel = {
            mapping.get(k, short(k)): v for k, v in (where_rel_map or {}).items()
        }
        return out_labels, out_rels, out_pack, out_where, out_where_rel

    def build_terms_for_distinct_values(
        self, df: DataFrame, class_label: str, codelist_code: str, value_col: str = "rdfs_label"
    ) -> list[TermSpec]:
        """A8 (super_method.py:469-540): one Term per distinct value of a
        class, ordered deterministically. Distinct values of a controlled
        class are metadata-scale by definition -> collected to the driver."""
        values = sorted(
            r[0] for r in df.select(value_col).distinct().collect() if r[0] is not None
        )
        out = []
        for i, v in enumerate(values):
            t = TermSpec(
                class_label=class_label,
                codelist_code=codelist_code,
                term_code=str(v),
                rdfs_label=str(v),
                order=i + 1,
            )
            self.add_term(t)
            out.append(t)
        return out

    # -- schema-from-data (model_manager.py:1245-1289) -----------------------

    @classmethod
    def from_data(cls, df: DataFrame, table_class: str) -> "MetadataModel":
        """Trivial star schema: one class for the table, one per column,
        a default relationship table->column-class per column."""
        m = cls()
        m.create_class(table_class)
        for c in df.columns:
            m.create_class(c)
            m.create_relationship(table_class, c)
        return m

    # -- DataFrame views (broadcast into joins) ------------------------------

    def terms_df(self, spark: SparkSession) -> DataFrame:
        rows = [(t.class_label, t.codelist_code, t.term_code, t.rdfs_label, t.order) for t in self.terms]
        return spark.createDataFrame(
            rows,
            "class_label string, codelist_code string, term_code string, rdfs_label string, order int",
        )
