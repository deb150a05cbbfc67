"""Declarative tabular readback over the node/edge tables — the engine's
query layer (DataProvider.get_data_generic parity, SURVEY §3.1).

The reference compiles ``labels + rels + where_map + where_rel_map`` into
one Cypher statement (data_providers/data_provider.py:122-262;
query_builders/query_builder.py:42-884) and lets Neo4j plan it.  Here the
same spec compiles into a DataFrame join tree and Catalyst plans it — the
custom pieces are exactly the ones the reference also had to own:

- label markers: ``**`` optional class, ``!!`` excluded-from-output class
  (data_provider.py:15-16,122-139,224-237)
- rel inference from the schema when no rels are given
  (data_provider.py:147-151 -> model_manager.py:549-625)
- connectedness guard rejecting implicit cross products
  (query_builder.py:357-389), with ``allow_unrelated_subgraphs`` opt-out
  joining disconnected groups as a cartesian product
  (data_provider.py:97,158-160)
- mandatory-core-then-optional join grouping: optional classes/rels become
  LEFT joins after the mandatory core's INNER joins
  (query_builder.py:456-581, ordering :509)
- where_map / where_rel_map predicate dialect (operators/predicates.py)
- only_props projection pruning (query_builder.py:861-867)

Output: one column per (non-excluded) class, named by class label (or
short_label with ``use_shortlabel``), carrying the node's ``rdfs_label``
value — the reference's CLD-mode row shape (data_provider.py:104,164-167).
``_id_<label>`` columns carry the deterministic node ids when
``include_ids`` (the reference threads Neo4j ids the same way,
action.py:1539-1547).
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tab2neo_spark.kg.canon import _union_find_driver
from tab2neo_spark.model.metadata import MetadataModel, RelSpec

OPTIONAL_MARK = "**"
EXCLUDE_MARK = "!!"


class QuerySpecError(ValueError):
    pass


def _strip_marks(label: str) -> tuple[str, bool, bool]:
    optional = label.endswith(OPTIONAL_MARK)
    if optional:
        label = label[: -len(OPTIONAL_MARK)]
    excluded = label.endswith(EXCLUDE_MARK)
    if excluded:
        label = label[: -len(EXCLUDE_MARK)]
    return label, optional, excluded


def _connected_groups(labels: list[str], rels: list[RelSpec]) -> list[set[str]]:
    """Union-find over the label/rel graph (query_builder.py:357-389);
    groups come in the order of their first label."""
    known = set(labels)
    root = _union_find_driver(
        [(r.from_label, r.to_label) for r in rels
         if r.from_label in known and r.to_label in known]
    )
    groups: dict[str, set[str]] = {}
    for lb in labels:
        groups.setdefault(root.get(lb, lb), set()).add(lb)
    return list(groups.values())


def _split_out_optional(
    labels: list[str], rel_specs: list[RelSpec], labels_opt: set[str]
) -> list[tuple[list[str], list[RelSpec]]]:
    """The reference's split_out_optional (query_builder.py:456-580),
    field for field: ``[(group_labels, group_rels), ...]`` with group 0 =
    the mandatory tier. Labels sort (stable) mandatory-first then by
    descending count of rels touching the mandatory tier; an optional
    label with a mandatory link anchors a NEW group, one without joins
    the group of EVERY already-processed neighbor (shared labels repeat
    across groups — the bound-variable constraint). A group's rels are
    those touching its labels whose endpoints are all processed by that
    group's turn."""
    mand = {lb for lb in labels if lb not in labels_opt}
    info = []
    for lb in labels:
        l_rels = [r for r in rel_specs if lb in (r.from_label, r.to_label)]
        n_to_mand = len(
            [r for r in l_rels if r.from_label in mand or r.to_label in mand]
        )
        info.append((lb, lb in labels_opt, l_rels, n_to_mand))
    info.sort(key=lambda t: (t[1], -t[3]))  # stable: preserves query order

    g_dict: dict[int, list[tuple[str, list[RelSpec]]]] = {0: []}
    g_lookup: dict[str, int] = {}
    g = 0
    for lb, opt, l_rels, n_to_mand in info:
        related_processed = []
        for r in l_rels:
            if r.from_label in g_lookup:
                related_processed.append(r.from_label)
            elif r.to_label in g_lookup:
                related_processed.append(r.to_label)
        if not opt:
            g_dict[0].append((lb, l_rels))
            g_lookup[lb] = 0
        elif n_to_mand == 0 and related_processed:
            seen_groups: set[int] = set()
            for p in related_processed:
                cur = g_lookup[p]
                # one membership per group even with several processed
                # neighbors there (diamond patterns): a duplicate label in
                # one group would duplicate its columns in the join
                if cur in seen_groups:
                    continue
                seen_groups.add(cur)
                g_dict[cur].append((lb, l_rels))
                g_lookup[lb] = cur
        else:
            g += 1
            g_dict[g] = [(lb, l_rels)]
            g_lookup[lb] = g

    out: list[tuple[list[str], list[RelSpec]]] = []
    processed: set[str] = set()
    for key in sorted(g_dict):
        item = g_dict[key]
        g_labels = [lb for lb, _ in item]
        processed.update(g_labels)
        g_rels: list[RelSpec] = []
        for _, rl in item:
            for r in rl:
                if (r.from_label in processed and r.to_label in processed
                        and r not in g_rels):
                    g_rels.append(r)
        # group 0 (the mandatory tier) is ALWAYS emitted, even empty — the
        # caller anchors all-optional queries on it explicitly
        if key == 0 or g_labels or g_rels:
            out.append((g_labels, g_rels))
    return out


class DataProvider:
    def __init__(
        self,
        spark: SparkSession,
        model: MetadataModel,
        nodes: DataFrame,
        edges: DataFrame,
    ):
        self.spark = spark
        self.model = model
        self.nodes = nodes
        self.edges = edges

    # -- building blocks -----------------------------------------------------

    def _class_df(
        self,
        label: str,
        where: Mapping[str, Any] | None,
        props: Sequence[str] = (),
        with_uri: bool = False,
    ) -> DataFrame:
        """Nodes of one class, filtered early (predicate pushdown: the
        filter lands directly on the partitioned nodes scan, BEFORE the
        projection). ``props`` pulls extra keys out of the open props map
        as ``<label>_<prop>`` columns (only_props beyond rdfs:label — P3).

        where-conditions address properties by name: 'rdfs:label' /
        'rdfs_label' mean the canonical value column; any other name reads
        the open props map (the reference's ``n.`PROP``` access works for
        every property uniformly, query_builder.py:208-296)."""
        df = self.nodes.filter(F.col("class") == label)
        if where:
            from tab2neo_spark.operators.predicates import compile_condition

            cond = None
            for prop, spec in where.items():
                target = (
                    F.col("rdfs_label")
                    if prop in ("rdfs:label", "rdfs_label")
                    else F.col("props").getItem(prop)
                )
                c = compile_condition(target, spec)
                cond = c if cond is None else cond & c
            if cond is not None:
                df = df.filter(cond)
        return df.select(
            F.col("node_id").alias(f"_id_{label}"),
            F.col("rdfs_label").alias(label),
            *([F.col("uri").alias(f"_uri_{label}")] if with_uri else []),
            *[
                F.col("props").getItem(p).alias(f"{label}_{p}")
                for p in props
            ],
        )

    def _edges_for(self, rel: RelSpec) -> DataFrame:
        # a None type matches ANY relationship (the reference's
        # impute_relationship_type=False / type-less arrows rels)
        e = (
            self.edges
            if rel.relationship_type is None
            else self.edges.filter(F.col("rel_type") == rel.relationship_type)
        )
        return e.select(
            F.col("src").alias(f"_id_{rel.from_label}"),
            F.col("dst").alias(f"_id_{rel.to_label}"),
        )

    # -- the query entry point -----------------------------------------------

    def get_data(
        self,
        labels: Sequence[str],
        rels: Sequence[Mapping[str, Any] | RelSpec] | None = None,
        where_map: Mapping[str, Mapping[str, Any]] | None = None,
        where_rel_map: Mapping[str, Mapping[str, Any]] | None = None,
        infer_rels: bool = True,
        allow_unrelated_subgraphs: bool = False,
        limit: int | None = None,
        use_shortlabel: bool = False,
        use_rel_labels: bool = True,
        include_ids: bool = False,
        return_nodeid: bool = False,
        labels_to_pack: Sequence[str] | None = None,
        only_props: Mapping[str, Sequence[str]] | None = None,
        return_termorder: bool = False,
        return_disjoint: bool = False,
        return_class_uris: bool = False,
        check_schema: bool = False,
        pivot: bool = False,
    ) -> DataFrame:
        """``labels_to_pack`` (A1, query_builder.py:676-798): listed classes
        are collected into a sorted distinct list per remaining-class row
        instead of multiplying rows — the reference's
        ``collect(distinct x.rdfs:label)`` packing.

        ``only_props`` (P3): ``{label: [prop, ...]}`` adds
        ``<label>_<prop>`` columns from the class's open props map;
        rdfs:label stays the main column.

        Reference knobs (data_provider.py:89-112):
        ``use_rel_labels`` — with ``use_shortlabel``, a rel dict's own
        ``short_label`` renames the TO class's output column (:99-100);
        ``return_termorder`` — adds ``<name>_order`` from the Term catalog
        (broadcast join, CT ordering); ``return_disjoint`` — per-class
        distinct value sets in ONE row (:105); ``return_class_uris`` —
        adds ``_uri_<name>`` columns (:106); ``check_schema`` — reject
        labels/rel types absent from the metadata model before planning
        (:107); ``pivot`` — expand map-packed columns into real columns
        (:112, data_provider.py:252-262)."""
        where_map = where_map or {}

        # 1. strip markers (data_provider.py:124-139)
        parsed = [_strip_marks(lb) for lb in labels]
        clean = [p[0] for p in parsed]
        optional = {p[0] for p in parsed if p[1]}
        excluded = {p[0] for p in parsed if p[2]}
        if not clean:
            raise QuerySpecError("no labels")

        # 2. rels: explicit, else inferred from the schema (J4)
        rel_specs: list[RelSpec] = []
        rel_short: dict[str, str] = {}  # TO-class -> rel-level short_label
        for r in rels or []:
            if isinstance(r, RelSpec):
                rel_specs.append(r)
            else:
                rel_specs.append(
                    RelSpec(
                        r.get("from") or r.get("from_label"),
                        r.get("to") or r.get("to_label"),
                        r.get("type") or r.get("relationship_type"),
                        bool(r.get("optional", False)),
                    )
                )
                if r.get("short_label"):
                    rel_short[rel_specs[-1].to_label] = r["short_label"]

        if check_schema:
            missing = [lb for lb in clean if lb not in self.model.classes]
            if missing:
                raise QuerySpecError(f"classes not in the schema: {missing}")
            known = {
                (x.from_label, x.to_label, x.relationship_type)
                for x in self.model.relationships
            }
            bad = [
                r for r in rel_specs
                if r.relationship_type is not None
                and (r.from_label, r.to_label, r.relationship_type) not in known
            ]
            if bad:
                raise QuerySpecError(f"relationships not in the schema: {bad}")
        if not rel_specs and infer_rels and len(clean) > 1:
            rel_specs = self.model.infer_rels(clean)
        # '**' markers and user-marked optional rels both make a class
        # optional (the reference's labels_opt derivation, D4: '** optional
        # suffix from r.optional') — computed BEFORE the rel rewrite so a
        # rel that merely TOUCHES an optional class does not drag its
        # mandatory endpoint into the optional tier
        optional = optional | {
            r.to_label for r in rel_specs if r.optional and r.to_label in clean
        }
        # a rel touching an optional class is itself optional (J2/J3)
        rel_specs = [
            RelSpec(
                r.from_label,
                r.to_label,
                r.relationship_type,
                r.optional or r.from_label in optional or r.to_label in optional,
            )
            for r in rel_specs
        ]

        # 3. connectedness guard (J5/J6)
        groups = _connected_groups(clean, rel_specs)
        if len(groups) > 1 and not allow_unrelated_subgraphs:
            raise QuerySpecError(
                f"labels form {len(groups)} disconnected groups {groups}; "
                "pass allow_unrelated_subgraphs=True for a cartesian product"
            )

        # 4. join planning: mandatory core first, then ATOMIC optional
        #    groups (split_out_optional, query_builder.py:456-580) — labels
        #    in query order so the reference's stable tie-breaking holds
        result: DataFrame | None = None
        for group in groups:
            g_df = self._join_group(
                [lb for lb in clean if lb in group],
                rel_specs,
                optional,
                where_map,
                only_props or {},
                with_uris=return_class_uris,
            )
            result = g_df if result is None else result.crossJoin(g_df)

        # 5. where_rel_map: EXISTS / NOT EXISTS neighborhood conditions (P2)
        for label, conds in (where_rel_map or {}).items():
            result = self._apply_rel_conditions(result, label, conds)

        # 5b. term order from the CT catalog (return_termorder): broadcast
        # join each termed class's value column to its Term order
        if return_termorder:
            by_class: dict[str, list] = {}
            for t in self.model.terms:
                by_class.setdefault(t.class_label, []).append(t)
            for lb in clean:
                if lb in excluded or lb not in by_class:
                    continue
                rows = {(t.rdfs_label, t.order) for t in by_class[lb]}
                tdf = F.broadcast(
                    self.spark.createDataFrame(
                        sorted(rows), f"__tval string, {lb}_order int"
                    )
                )
                result = result.join(
                    tdf, result[lb] == tdf["__tval"], "left"
                ).drop("__tval")

        # 6. projection: drop ids and excluded classes (P3/P4)
        out_cols = []
        for lb in clean:
            if lb in excluded:
                continue
            name = lb
            if use_shortlabel:
                spec = self.model.classes.get(lb)
                if spec and spec.short_label:
                    name = spec.short_label
                # rel-level short_label overrides the TO class's
                # (model_manager.py:663-666)
                if use_rel_labels and lb in rel_short:
                    name = rel_short[lb]
            out_cols.append(F.col(lb).alias(name))
            for p in (only_props or {}).get(lb, ()):
                out_cols.append(F.col(f"{lb}_{p}"))
            if return_termorder and f"{lb}_order" in result.columns:
                out_cols.append(F.col(f"{lb}_order").alias(f"{name}_order"))
            if return_class_uris:
                out_cols.append(F.col(f"_uri_{lb}").alias(f"_uri_{name}"))
            if include_ids or return_nodeid:
                out_cols.append(F.col(f"_id_{lb}").alias(f"_id_{name}"))
        result = result.select(*out_cols)

        # return_disjoint (A2): one row of per-class sorted distinct sets
        if return_disjoint:
            from tab2neo_spark.operators.packing import disjoint_collect

            value_cols = [
                c for c in result.columns
                if not c.startswith("_id_") and not c.startswith("_uri_")
            ]
            return disjoint_collect(result, value_cols)

        # A1 packing (query_builder.py:676-798). Two forms:
        # - sequence / dict-with-list-value: collect the class's values into
        #   a per-row sorted list (``collect(distinct x.rdfs:label)``)
        # - dict-with-str-value {label: key_class}: pack label's values into
        #   a MAP keyed by key_class's value (``apoc.map.fromPairs``); the
        #   key class is consumed into the map (generate_with :792-793)
        if labels_to_pack:
            if isinstance(labels_to_pack, Mapping):
                list_pack = [
                    lb for lb, v in labels_to_pack.items()
                    if isinstance(v, (list, tuple))
                ]
                map_pack = {
                    lb: v for lb, v in labels_to_pack.items() if isinstance(v, str)
                }
            else:
                list_pack, map_pack = list(labels_to_pack), {}
            pack = [lb for lb in list_pack if lb in clean and lb not in excluded]
            for lb, kc in map_pack.items():
                if lb not in result.columns or kc not in result.columns:
                    raise QuerySpecError(
                        f"labels_to_pack map form needs both {lb!r} and key "
                        f"class {kc!r} in the query output"
                    )
            consumed = set(pack) | set(map_pack) | set(map_pack.values())
            keys = [
                c for c in result.columns
                if c not in consumed and not c.startswith("_id_")
            ]
            aggs = [
                F.sort_array(F.collect_set(lb)).alias(f"{lb}s") for lb in pack
            ]
            for lb, kc in map_pack.items():
                entries = F.sort_array(
                    F.collect_set(
                        F.when(
                            F.col(kc).isNotNull() & F.col(lb).isNotNull(),
                            F.struct(F.col(kc).alias("key"), F.col(lb).alias("value")),
                        )
                    )
                )
                entries = F.filter(entries, lambda x: x.isNotNull())
                # a key class can map 1:N to packed values within a group;
                # map_from_entries would raise DUPLICATED_MAP_KEY under
                # Spark's default EXCEPTION dedup policy. The reference's
                # apoc.map.fromPairs keeps the last pair seen (row order —
                # nondeterministic); here entries are sorted (key, value),
                # so keeping the last occurrence per key = deterministic
                # max-value-per-key (documented divergence).
                n = F.size(entries)
                # F.get is 0-indexed and NULL (never ANSI error) out of
                # bounds, so the i == n-1 guard composes safely
                last_per_key = F.filter(
                    entries,
                    lambda x, i: (i == n - 1)
                    | (F.get(entries, i + 1)["key"] != x["key"]),
                )
                aggs.append(F.map_from_entries(last_per_key).alias(f"{lb}_map"))
            result = result.groupBy(*keys).agg(*aggs)

            # pivot (data_provider.py:252-262): expand each map-packed
            # column into real columns, one per key. Keys are term-code
            # scale by construction -> the discovery collect is metadata-
            # sized; pass explicit keys at 100 TB via pivot_wide instead.
            if pivot:
                for lb in map_pack:
                    mcol = f"{lb}_map"
                    ks = sorted(
                        r["k"]
                        for r in result.select(
                            F.explode(F.map_keys(F.col(mcol))).alias("k")
                        ).distinct().collect()
                    )
                    result = result.select(
                        *[c for c in result.columns if c != mcol],
                        *[F.col(mcol).getItem(k).alias(k) for k in ks],
                    )

        if limit is not None:
            result = result.limit(limit)
        return result

    def _join_group(
        self,
        ordered_labels: list[str],
        rel_specs: list[RelSpec],
        optional: set[str],
        where_map: Mapping[str, Mapping[str, Any]],
        only_props: Mapping[str, Sequence[str]] | None = None,
        with_uris: bool = False,
    ) -> DataFrame:
        """Mandatory core + ATOMIC optional groups (J2/J3).

        Cypher's OPTIONAL MATCH is all-or-nothing per pattern: in
        ``MATCH (s) OPTIONAL MATCH (s)--(e)--(u)``, a matching ``e`` with
        no ``u`` yields NULL for BOTH. Sequential left joins get that
        wrong (partial matches survive), so each optional group's pattern
        is composed with INNER joins into one DataFrame and then
        LEFT-joined onto the plan in a single step, keyed on the group's
        bound labels — NULL bound keys never match, which is exactly the
        bound-NULL-variable semantics of a downstream OPTIONAL MATCH.

        Grouping replicates split_out_optional (query_builder.py:456-580):
        each optional label with a direct rel to the mandatory tier
        anchors its own group; dependent optional labels join the
        group(s) of their already-processed neighbors — appearing in
        SEVERAL groups when shared (the bound-variable constraint), and a
        group's rel list includes every rel among labels processed so far
        that touches the group (re-stated bound-bound rels gate the
        match, as the re-used pattern variables do in Cypher)."""
        only_props = only_props or {}

        def class_df(lb: str) -> DataFrame:
            return self._class_df(
                lb, where_map.get(lb), only_props.get(lb, ()), with_uris
            )

        groups = _split_out_optional(ordered_labels, rel_specs, optional)
        (core_labels, core_rels), opt_groups = groups[0], groups[1:]
        in_plan: set[str] = set()
        if core_labels:
            joined, _ = self._inner_pattern(core_labels, core_rels, set(), class_df)
            in_plan |= set(core_labels)
        else:
            # all-optional query: the first optional label anchors the plan
            # (a leading OPTIONAL MATCH behaves like a MATCH for its own
            # rows); its group then attaches BOUND on the anchor, so rows
            # with no further match keep NULL tails instead of dropping
            anchor = opt_groups[0][0][0]
            joined = class_df(anchor)
            in_plan.add(anchor)
        for g_labels, g_rels in opt_groups:
            new = [lb for lb in dict.fromkeys(g_labels) if lb not in in_plan]
            if not new and not g_rels:
                continue
            comp_df, attach = self._inner_pattern(new, g_rels, in_plan, class_df)
            if attach:
                joined = joined.join(comp_df, sorted(attach), "left")
            else:  # optional group with no bound link (guarded upstream)
                joined = joined.crossJoin(comp_df)
            in_plan |= set(new)
        assert joined is not None
        return joined

    def _inner_pattern(
        self,
        new_labels: list[str],
        g_rels: list[RelSpec],
        bound: set[str],
        class_df,
    ) -> tuple[DataFrame, set[str]]:
        """One group's pattern as a single inner-joined DataFrame.

        ``bound`` labels contribute only their ``_id_<label>`` columns
        (via the edges that reference them) — returned as the attach keys
        for the group's left join. Labels with no rel path inside the
        group compose as a cross join (Cypher's comma-separated pattern)."""
        df: DataFrame | None = None
        pat: set[str] = set()  # labels whose _id_ column exists in df
        attach: set[str] = set()
        pending = list(new_labels)
        usable = set(pending) | bound
        rels_left = [
            r for r in g_rels
            if r.from_label in usable and r.to_label in usable
        ]
        while pending or rels_left:
            if df is None:
                if rels_left:
                    r = next(
                        (x for x in rels_left
                         if x.from_label in pending or x.to_label in pending),
                        rels_left[0],
                    )
                    rels_left.remove(r)
                    df = self._edges_for(r)
                    for end in (r.from_label, r.to_label):
                        if end in pending:
                            df = df.join(class_df(end), f"_id_{end}", "inner")
                            pending.remove(end)
                        elif end in bound:
                            attach.add(f"_id_{end}")
                        pat.add(end)
                else:
                    lb = pending.pop(0)
                    df = class_df(lb)
                    pat.add(lb)
                continue
            progressed = False
            for r in list(rels_left):
                ends = (r.from_label, r.to_label)
                common = [x for x in ends if x in pat]
                if not common:
                    continue
                rels_left.remove(r)
                df = df.join(
                    self._edges_for(r), [f"_id_{x}" for x in common], "inner"
                )
                for x in ends:
                    if x in pat:
                        continue
                    if x in pending:
                        df = df.join(class_df(x), f"_id_{x}", "inner")
                        pending.remove(x)
                    elif x in bound:
                        attach.add(f"_id_{x}")
                    pat.add(x)
                progressed = True
                break
            if not progressed:
                if pending:  # no rel path: comma-pattern cartesian
                    lb = pending.pop(0)
                    df = df.crossJoin(class_df(lb))
                    pat.add(lb)
                else:
                    break  # leftover rels reference labels outside the plan
        assert df is not None
        return df, attach

    # the reference's full check/operator vocabulary (query_builder.py:311,322)
    REL_MODES = {"EXISTS", "NOT EXISTS", "EXISTS>", "NOT EXISTS>", "EXISTS<", "NOT EXISTS<"}
    REL_OPERATORS = {"include", "exclude", "include_matched", "exclude_matched"}

    def _neighbor_pairs(self, direction: str) -> DataFrame:
        """Edge endpoints as (_k = conditioned-side node, _nbr = neighbor),
        honoring the dialect's direction suffix (query_builder.py:312-314,354):
        ``>`` = ``(label)-[]->(x)`` (label is src), ``<`` = ``(label)<-[]-(x)``
        (label is dst), none = either direction."""
        parts = []
        if direction in ("", ">"):
            parts.append(self.edges.select(F.col("src").alias("_k"), F.col("dst").alias("_nbr")))
        if direction in ("", "<"):
            parts.append(self.edges.select(F.col("dst").alias("_k"), F.col("src").alias("_nbr")))
        out = parts[0]
        for p in parts[1:]:
            out = out.union(p)
        return out

    def _neighbor_item_cond(self, items: Any):
        """Compile one include/exclude list into a Column over the neighbor
        node's (_x_class, _x_value, _x_props) columns. Items are class-label
        strings (``x:`A` OR x:`B```) or ``{Class: {prop: cond}}`` dicts
        (``x.prop in v AND x:Class``) — query_builder.py:326-337."""
        from tab2neo_spark.operators.predicates import compile_condition

        if not isinstance(items, (list, tuple)) or not items:
            raise QuerySpecError("where_rel_map include/exclude expect a non-empty list")
        cond = None
        for item in items:
            if isinstance(item, Mapping):
                for cls, prop_map in item.items():
                    c = F.col("_x_class") == cls
                    for prop, val in prop_map.items():
                        target = (
                            F.col("_x_value")
                            if prop in ("rdfs:label", "rdfs_label")
                            else F.col("_x_props").getItem(prop)
                        )
                        c = c & compile_condition(target, val)
                    cond = c if cond is None else cond | c
            else:
                c = F.col("_x_class") == item
                cond = c if cond is None else cond | c
        return cond

    def _apply_rel_conditions(
        self, df: DataFrame, label: str, conds: Mapping[str, Any]
    ) -> DataFrame:
        """where_rel_map: existential neighborhood conditions, full reference
        dialect (query_builder.py:300-355).

        ``{'EXISTS'/'NOT EXISTS'[+ '>'/'<']: {operator: [...], ...}}`` where
        operators AND together over the same neighbor x:

        - ``include``:  x's class (or class+property dict) matches the list
        - ``exclude``:  x's class does NOT match the list
        - ``include_matched``: x IS one of the row's already-matched nodes
          (the listed labels' ``_id_`` columns)
        - ``exclude_matched``: x is NOT one of the row's matched nodes

        Uncorrelated checks compile to semi/anti joins (Catalyst broadcasts
        the key set when small); ``*_matched`` checks are row-correlated and
        compile to at-most-one-row left joins on (node, neighbor) pairs plus
        a degree join for exclude_matched. Unknown modes/operators raise —
        never silently return a wrong result."""
        for mode, spec in conds.items():
            mode_u = str(mode).upper().strip()
            if mode_u not in self.REL_MODES:
                raise QuerySpecError(
                    f"where_rel_map mode {mode!r} not one of {sorted(self.REL_MODES)}"
                )
            if not isinstance(spec, Mapping):
                raise QuerySpecError(
                    f"where_rel_map condition for {mode!r} must be a dict of operators"
                )
            unknown = set(spec) - self.REL_OPERATORS
            if unknown:
                raise QuerySpecError(
                    f"where_rel_map operators {sorted(unknown)} not one of "
                    f"{sorted(self.REL_OPERATORS)}"
                )
            exists = not mode_u.startswith("NOT")
            direction = mode_u[-1] if mode_u[-1] in "<>" else ""
            key = f"_id_{label}"
            if key not in df.columns:
                raise QuerySpecError(f"where_rel_map label {label!r} not in the query")

            pairs = self._neighbor_pairs(direction)
            # class/property conditions on x — AND of include and NOT exclude
            x_cond = None
            if "include" in spec:
                c = self._neighbor_item_cond(spec["include"])
                x_cond = c if x_cond is None else x_cond & c
            if "exclude" in spec:
                c = ~self._neighbor_item_cond(spec["exclude"])
                x_cond = c if x_cond is None else x_cond & c
            if x_cond is not None:
                nbr = self.nodes.select(
                    F.col("node_id").alias("_nbr"),
                    F.col("class").alias("_x_class"),
                    F.col("rdfs_label").alias("_x_value"),
                    F.col("props").alias("_x_props"),
                ).filter(x_cond)
                pairs = pairs.join(nbr.select("_nbr"), "_nbr", "left_semi")

            matched_incl = list(spec.get("include_matched", []))
            matched_excl = list(spec.get("exclude_matched", []))
            for m in matched_incl + matched_excl:
                if not isinstance(m, str):
                    raise QuerySpecError(
                        f"only string labels allowed in *_matched, got {m!r}"
                    )
                if f"_id_{m}" not in df.columns:
                    raise QuerySpecError(f"*_matched label {m!r} not in the query")

            if not matched_incl and not matched_excl:
                # uncorrelated: one semi/anti join on the distinct key set
                keys = pairs.select("_k").distinct()
                how = "left_semi" if exists else "left_anti"
                df = df.join(keys, df[key] == keys["_k"], how)
                continue

            # correlated (*_matched): compute the per-row EXISTS boolean
            pairs = pairs.distinct()
            helper_cols: list[str] = []
            work = df
            if matched_incl:
                # exists x in {row's matched nodes} (minus any exclude_matched)
                effective = [m for m in matched_incl if m not in matched_excl]
                hit = F.lit(False)
                for i, m in enumerate(effective):
                    p = pairs.select(
                        F.col("_k").alias(f"_mk{i}"), F.col("_nbr").alias(f"_mn{i}")
                    )
                    work = work.join(
                        p,
                        (work[key] == F.col(f"_mk{i}"))
                        & (work[f"_id_{m}"] == F.col(f"_mn{i}")),
                        "left",
                    )
                    hit = hit | F.col(f"_mk{i}").isNotNull()
                    helper_cols += [f"_mk{i}", f"_mn{i}"]
                cond_expr = hit
            else:
                # exclude_matched only: exists a neighbor that is NOT one of
                # the row's matched nodes <=> degree > matched-neighbor hits
                deg = pairs.groupBy("_k").agg(F.count("*").alias("_deg"))
                work = work.join(deg, work[key] == deg["_k"], "left")
                helper_cols += ["_k", "_deg"]
                nhits = F.lit(0)
                for i, m in enumerate(matched_excl):
                    p = pairs.select(
                        F.col("_k").alias(f"_mk{i}"), F.col("_nbr").alias(f"_mn{i}")
                    )
                    work = work.join(
                        p,
                        (work[key] == F.col(f"_mk{i}"))
                        & (work[f"_id_{m}"] == F.col(f"_mn{i}")),
                        "left",
                    )
                    nhits = nhits + F.when(F.col(f"_mk{i}").isNotNull(), 1).otherwise(0)
                    helper_cols += [f"_mk{i}", f"_mn{i}"]
                cond_expr = F.coalesce(F.col("_deg"), F.lit(0)) > nhits
            work = work.filter(cond_expr if exists else ~cond_expr)
            df = work.drop(*helper_cols)
        return df
