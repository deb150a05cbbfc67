"""Derivation-method DAG runner (D1-D14 subset, Spark-first).

The reference persists a method as graph nodes ``(:Method)-[:METHOD_ACTION]
->(:Method{type})-[:NEXT]->...`` and executes it by walking the chain,
threading a pandas df through action objects, writing ``Changes`` audit
nodes for rollback (derivation_method/derivation_method.py:249-307;
method.py:13-71; action.py).  Here a method is a JSON-able spec compiled to
a list of stage callables threading a Spark DataFrame; audit goes to the
GraphStore checkpoint table; the df stays distributed end to end.

Action types (reference dispatch at method.py:13-71):

| type            | reference                   | here |
|-----------------|-----------------------------|------|
| get_data        | GetData (action.py:178-325) | DataProvider.get_data |
| filter          | Filter (action.py:207-282)  | where_map on the df, with the
|                 |                             | reference's string->num/bool coercion |
| run_script      | RunScript eval (F1)         | registry transform (no eval) |
| call_api        | CallAPI remote (F2)         | same registry, executed in-cluster |
| run_sql         | RunCypher (F3)              | spark.sql over a temp view of the df |
| build_uri       | BuildUri (D8)               | concat_ws deterministic keys |
| assign_class    | AssignLabel (D5)            | node rows emitted to `new_nodes` |
| link            | Link (D6)                   | edge rows emitted to `new_edges` |
| branch_save/load/combine | D9                 | named df dict + natural join |
| apply_stat      | ApplyStat supermethod (D10) | grouping-sets stats + pct |

``apply(limit=n)`` mirrors apply_limited's dry run
(derivation_method.py:305-307): the input is truncated and write-actions
are skipped, used for output-schema prediction (D13).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tab2neo_spark.operators.predicates import apply_where_map
from tab2neo_spark.pipeline.registry import get_transform
from tab2neo_spark.schema import node_uri_col

WRITE_ACTIONS = {"link", "assign_class", "assign_label", "link_stat"}


def _coerce_filter_value(v: Any) -> Any:
    """Filter literal re-typing (action.py:222-248): numeric strings ->
    numbers on range bounds, 'true'/'false' -> bool."""
    if isinstance(v, str):
        low = v.lower()
        if low in ("true", "false"):
            return low == "true"
        try:
            return int(v)
        except ValueError:
            try:
                return float(v)
            except ValueError:
                return v
    if isinstance(v, dict):
        return {k: _coerce_filter_value(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_coerce_filter_value(x) for x in v]
    return v


@dataclass
class MethodResult:
    df: DataFrame | None
    new_nodes: list[DataFrame] = field(default_factory=list)
    new_edges: list[DataFrame] = field(default_factory=list)
    audit: list[dict] = field(default_factory=list)
    branches: dict[str, DataFrame] = field(default_factory=dict)
    # extra-label assignments (Neo4j multi-label analog): (node_id,
    # extra_label) batches, same side-table shape as refactor.label_entities
    new_labels: list[DataFrame] = field(default_factory=list)
    # Changes-analog provenance (action.py:1699-1749): which action produced
    # each new_nodes/new_edges/new_labels batch — positionally aligned
    node_actions: list[int] = field(default_factory=list)
    edge_actions: list[int] = field(default_factory=list)
    label_actions: list[int] = field(default_factory=list)


class DerivationMethod:
    """One method = ordered action list (the NEXT chain)."""

    VALID_TYPES = {
        "get_data", "filter", "run_script", "call_api", "run_sql", "build_uri",
        "assign_class", "assign_label", "link", "branch_save", "branch_load",
        "branch_combine", "apply_stat", "link_stat",
    }
    # supermethods macro-expand into primitive actions at compile time,
    # exactly like the reference (derivation_method/super_method.py)
    SUPERMETHODS = {"decode", "subject_level_link"}

    def __init__(
        self,
        spark: SparkSession,
        spec: dict,
        provider=None,
        source_df: DataFrame | None = None,
    ):
        self.spark = spark
        self.name = spec.get("name", "method")
        self.actions = [
            expanded
            for a in spec.get("actions", [])
            for expanded in self._expand(a)
        ]
        self.provider = provider
        self.source_df = source_df
        self.validate()

    @classmethod
    def _expand(cls, a: dict) -> list[dict]:
        t = a.get("type")
        if t == "decode":
            # D10 decode (super_method.py:281-388): remap term values along
            # SAME_AS pairs into the target codelist, then link the decoded
            # value as a class
            mapping = {x: y for x, y in a.get("same_as", [])}
            out = [
                {"type": "run_script", "script": "remap_term_values",
                 "params": {"column": a["column"], "mapping": mapping,
                            "new_column": a.get("new_column", a["column"])}},
            ]
            if a.get("class"):
                out.append({"type": "assign_class", "class": a["class"],
                            "value_column": a.get("new_column", a["column"])})
            return out
        if t == "subject_level_link":
            # D10 subject_level_link (super_method.py:76-278): derive a
            # subject-level value class and link each subject to its value
            cls_label = a["class"]
            return [
                {"type": "assign_class", "class": a.get("subject_class", "Subject"),
                 "value_column": a["subject_column"]},
                {"type": "assign_class", "class": cls_label,
                 "value_column": a["value_column"]},
                {"type": "link",
                 "relationship_type": a.get("relationship_type", cls_label),
                 "from_id": f"_id_{a.get('subject_class', 'Subject')}",
                 "to_id": f"_id_{cls_label}"},
            ]
        return [a]

    def validate(self) -> None:
        """Structural validation (validate_method_dict parity,
        derivation_method.py:1302-1474 — fail fast, before any job)."""
        if not self.actions:
            raise ValueError(f"method {self.name!r}: no actions")
        for i, a in enumerate(self.actions):
            t = a.get("type")
            if t not in self.VALID_TYPES:
                raise ValueError(f"method {self.name!r} action {i}: unknown type {t!r}")
            if t in ("run_script", "call_api"):
                get_transform(a["script"])  # raises on unknown script
            if t == "get_data" and self.provider is None and self.source_df is None:
                raise ValueError("get_data action requires a provider or source_df")

    # -- spec factory (D1: dict / .json file / by-name) ------------------------

    @classmethod
    def from_json_file(
        cls,
        spark: SparkSession,
        path: str,
        provider=None,
        source_df: DataFrame | None = None,
    ) -> "DerivationMethod":
        """Load a method from a JSON file — either a plain spec
        ``{name, actions}`` or the arrows-style method graph (the
        reference's online_data_loader file path, derivation_method.py
        spec factory)."""
        with open(path) as f:
            dct = json.load(f)
        if "actions" in dct:
            return cls(spark, dct, provider=provider, source_df=source_df)
        if "nodes" in dct and "relationships" in dct:
            return cls.from_arrows_json(
                spark, dct, provider=provider, source_df=source_df
            )
        raise ValueError(f"{path}: neither a method spec nor a method graph JSON")

    @classmethod
    def from_name(
        cls,
        spark: SparkSession,
        name: str,
        folder: str,
        provider=None,
        source_df: DataFrame | None = None,
    ) -> "DerivationMethod":
        """By-name loading: ``<folder>/<name>.json`` (falling back to
        ``<name>.ttl``) — the engine's analog of fetching a persisted
        Method node by id."""
        import os

        jpath = os.path.join(folder, f"{name}.json")
        if os.path.exists(jpath):
            return cls.from_json_file(
                spark, jpath, provider=provider, source_df=source_df
            )
        return cls.from_ttl_file(
            spark, os.path.join(folder, f"{name}.ttl"),
            provider=provider, source_df=source_df,
        )

    @classmethod
    def from_ttl(
        cls,
        spark: SparkSession,
        text: str,
        provider=None,
        source_df: DataFrame | None = None,
    ) -> "DerivationMethod":
        """RdfDerivationMethod parity (VERDICT r4 #3; reference
        derivation_method/derivation_method.py:51-58, 1497-1517): a TTL
        method graph — core ``Method`` node with ``METHOD_ACTION`` edges
        to action nodes ordered by a ``NEXT`` chain — parses into the
        arrows graph-JSON shape (model/serialization.parse_ttl_graph)
        and flows through the SAME reconstruction as JSON specs. Reads
        the reference's neosemantics ``n4sch:`` fixtures
        (tests/derivation_method/data/derive_simple_002.ttl) and this
        engine's :meth:`to_ttl` output alike."""
        from tab2neo_spark.model.serialization import parse_ttl_graph

        g = parse_ttl_graph(text)
        action_ids = {
            r["toId"] for r in g["relationships"] if r["type"] == "METHOD_ACTION"
        }
        for n in g["nodes"]:
            # the reference writes a display 'id' prop (= the action TYPE
            # string) on action nodes; strip only that pattern, so a
            # genuine 'id' action PARAMETER (value != type) survives the
            # round-trip like it does on the JSON path
            if n["id"] in action_ids and n["properties"].get("id") == n[
                "properties"
            ].get("type"):
                n["properties"].pop("id", None)
        return cls.from_arrows_json(
            spark, g, provider=provider, source_df=source_df
        )

    @classmethod
    def from_ttl_file(
        cls,
        spark: SparkSession,
        path: str,
        provider=None,
        source_df: DataFrame | None = None,
    ) -> "DerivationMethod":
        with open(path) as f:
            return cls.from_ttl(
                spark, f.read(), provider=provider, source_df=source_df
            )

    def to_ttl(self) -> str:
        """Serialize the method graph as Turtle — the export half of the
        RdfDerivationMethod round-trip, mirroring :meth:`to_arrows_json`
        node-for-node (same ``_json_props`` discipline for non-scalar
        params) under the ``t2sm:`` method namespace."""
        g = self.to_arrows_json()

        def lit(v) -> str:
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, (int, float)):
                return repr(v)
            s = str(v).replace("\\", "\\\\").replace('"', '\\"')
            s = s.replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r")
            return f'"{s}"'

        lines = ["@prefix t2sm: <urn:tab2neo-spark:method#> .", ""]
        edges_by_src: dict[str, list] = {}
        for r in g["relationships"]:
            edges_by_src.setdefault(r["fromId"], []).append(r)
        for n in g["nodes"]:
            parts = [f"t2sm:{n['id']} a " + ", ".join(
                f"t2sm:{lbl}" for lbl in n["labels"]
            )]
            for k, v in n["properties"].items():
                parts.append(f"  t2sm:{k} {lit(v)}")
            for r in edges_by_src.get(n["id"], []):
                parts.append(f"  t2sm:{r['type']} t2sm:{r['toId']}")
            lines.append(" ;\n".join(parts) + " .")
        return "\n".join(lines) + "\n"

    # -- method-as-graph JSON round-trip (D14, retrieve_json analog) ----------

    def to_arrows_json(self) -> dict:
        """Serialize the method to the reference's arrows.app graph-JSON
        shape (derivation_method.py:379-576; golden files in the reference's
        tests/derivation_method/data/expected_action_json/): one core Method
        node, one node per action (second label = action type),
        METHOD_ACTION edges from the core, and a NEXT chain fixing execution
        order. Non-scalar action params serialize as JSON strings (the
        apoc.convert.toJson discipline, model_manager.py:241), tracked in
        ``_json_props`` so the round-trip is lossless."""
        nodes = [
            {
                "id": "core0",
                "position": {},
                "caption": "",
                "labels": ["Method"],
                "properties": {"id": self.name},
            }
        ]
        rels = []
        prev = None
        for i, a in enumerate(self.actions):
            nid = f"a{i}"
            props: dict = {}
            json_keys = []
            for k, v in a.items():
                if isinstance(v, (dict, list, tuple)):
                    props[k] = json.dumps(v, sort_keys=True)
                    json_keys.append(k)
                else:
                    props[k] = v
            if json_keys:
                props["_json_props"] = json.dumps(sorted(json_keys))
            nodes.append(
                {
                    "id": nid,
                    "position": {},
                    "caption": "",
                    "labels": ["Method", a["type"]],
                    "properties": props,
                }
            )
            rels.append(
                {"id": f"ma_rel_{nid}", "fromId": "core0", "toId": nid,
                 "type": "METHOD_ACTION", "properties": {}, "style": {}}
            )
            if prev is not None:
                rels.append(
                    {"id": f"next_rel_{nid}", "fromId": prev, "toId": nid,
                     "type": "NEXT", "properties": {}, "style": {}}
                )
            prev = nid
        return {"nodes": nodes, "relationships": rels, "style": {}}

    @classmethod
    def from_arrows_json(
        cls,
        spark: SparkSession,
        dct: dict,
        provider=None,
        source_df: DataFrame | None = None,
    ) -> "DerivationMethod":
        """Reconstruct a method from its graph JSON: the NEXT chain gives
        the action order (get_last_action_node_id's topological walk,
        derivation_method.py:387-394)."""
        action_ids = {
            r["toId"] for r in dct["relationships"] if r["type"] == "METHOD_ACTION"
        }
        by_id = {n["id"]: n for n in dct["nodes"]}
        core = next(
            n for n in dct["nodes"]
            if "Method" in n["labels"] and n["id"] not in action_ids
        )
        succ = {
            r["fromId"]: r["toId"]
            for r in dct["relationships"]
            if r["type"] == "NEXT"
        }
        starts = sorted(action_ids - set(succ.values()))
        if len(starts) != 1 and action_ids:
            raise ValueError(f"method JSON NEXT chain has {len(starts)} heads")
        order = []
        cur: str | None = starts[0] if starts else None
        while cur is not None:
            order.append(cur)
            cur = succ.get(cur)
        actions = []
        for nid in order:
            props = dict(by_id[nid]["properties"])
            json_keys = set(json.loads(props.pop("_json_props", "[]")))
            actions.append(
                {
                    k: (json.loads(v) if k in json_keys else v)
                    for k, v in props.items()
                }
            )
        return cls(
            spark,
            {"name": core["properties"]["id"], "actions": actions},
            provider=provider,
            source_df=source_df,
        )

    # -- inputs/outputs prediction (D13) --------------------------------------

    def predict_output_columns(self, limit: int = 10) -> list[str]:
        """Dry-run on a 10-row slice to learn the output schema
        (predict_output_classes pattern, derivation_method.py:851-1108)."""
        res = self.apply(limit=limit)
        return res.df.columns if res.df is not None else []

    def predicted_output_classes(self) -> list[str]:
        """D13 predict_output_classes (derivation_method.py:851-889): the
        classes this method will create — assign_class / link_stat targets
        (supermethods are already expanded into these at compile time)."""
        out: list[str] = []
        for a in self.actions:
            if a["type"] in ("assign_class", "link_stat") and a.get("class"):
                if a["class"] not in out:
                    out.append(a["class"])
        return out

    def predict_links(self, model) -> list[dict]:
        """D13 predict_links (derivation_method.py:891-947): schema
        relationships between the method's predicted output classes become
        proposed link actions — skipping pairs an existing link action
        already covers."""
        predicted = set(self.predicted_output_classes())
        existing = {
            (a.get("from_id"), a.get("to_id"))
            for a in self.actions
            if a["type"] == "link"
        }
        links = []
        for r in model.relationships:
            if r.from_label in predicted and r.to_label in predicted:
                from_id, to_id = f"_id_{r.from_label}", f"_id_{r.to_label}"
                if (from_id, to_id) in existing:
                    continue
                links.append(
                    {
                        "type": "link",
                        "relationship_type": r.relationship_type,
                        "from_id": from_id,
                        "to_id": to_id,
                    }
                )
        return links

    def merge_link_actions_from_schema(self, model) -> int:
        """Append the predicted link actions (the reference's
        _generate_link_actions + merge_action_json flow,
        derivation_method.py:949-1028). Returns how many were added."""
        new = self.predict_links(model)
        self.actions.extend(new)
        return len(new)

    def merge_build_uri_from_schema(self, model) -> int:
        """D13 merge_build_uri_from_schema (derivation_method.py:1060-1108):
        for each predicted output class whose ClassSpec carries
        ``classes_for_uri`` ('A|B', pipe-separated), append a build_uri
        action keyed by those classes' value columns. Returns the number of
        actions added."""
        added = 0
        for cls in self.predicted_output_classes():
            spec = model.classes.get(cls)
            if spec is None or not spec.classes_for_uri:
                continue
            by = [tok.strip() for tok in spec.classes_for_uri.split("|") if tok.strip()]
            short = spec.short_label or cls
            self.actions.append(
                {
                    "type": "build_uri",
                    "for": cls,
                    "prefix": cls,
                    "by": by,
                    "column": f"_uri_{short}",
                }
            )
            added += 1
        return added

    # -- executor (D3) ---------------------------------------------------------

    def apply(self, limit: int | None = None) -> MethodResult:
        res = MethodResult(df=self.source_df)
        if res.df is not None and limit is not None:
            res.df = res.df.limit(limit)
        for i, a in enumerate(self.actions):
            t = a["type"]
            t0 = time.time()
            if limit is not None and t in WRITE_ACTIONS:
                # dry-run skips writes (Link/AssignLabel skipped in limited
                # mode, derivation_method.py:249-307)
                res.audit.append({"action": t, "idx": i, "skipped": "limited"})
                continue
            n0, e0, l0 = len(res.new_nodes), len(res.new_edges), len(res.new_labels)
            res.df = self._dispatch(t, a, res)
            res.node_actions += [i] * (len(res.new_nodes) - n0)
            res.edge_actions += [i] * (len(res.new_edges) - e0)
            res.label_actions += [i] * (len(res.new_labels) - l0)
            if res.df is not None and limit is not None and t == "get_data":
                res.df = res.df.limit(limit)
            res.audit.append(
                {"action": t, "idx": i, "wall_s": round(time.time() - t0, 3)}
            )
        return res

    def _dispatch(self, t: str, a: dict, res: MethodResult) -> DataFrame | None:
        df = res.df
        if t == "get_data":
            if self.provider is not None and "labels" in a:
                return self.provider.get_data(
                    a["labels"],
                    rels=a.get("rels"),
                    where_map=a.get("where_map"),
                    where_rel_map=a.get("where_rel_map"),
                    include_ids=a.get("include_ids", False),
                    allow_unrelated_subgraphs=a.get("allow_unrelated_subgraphs", False),
                )
            return self.source_df
        if t == "filter":
            wm = {k: _coerce_filter_value(v) for k, v in a["where_map"].items()}
            return apply_where_map(df, wm)
        if t in ("run_script", "call_api"):
            fn = get_transform(a["script"])
            return fn(df, **a.get("params", {}))
        if t == "run_sql":
            df.createOrReplaceTempView(a.get("view", "df"))
            out = self.spark.sql(a["sql"])
            return out if a.get("update_df", True) else df
        if t == "build_uri":
            by = a["by"]
            prefix = a.get("prefix", a.get("for", "uri"))
            out_col = a.get("column", f"_uri_{a.get('for', 'x')}")
            return df.withColumn(
                out_col,
                node_uri_col(F.lit(prefix), *[F.col(c) for c in by]),
            )
        if t == "assign_class":
            label = a["class"]
            value_col = a["value_column"]
            # CT-compliance validation (action.py:1651-1654): every derived
            # value must appear in the class's controlled terms; fail fast
            ct = a.get("ct")
            if ct is not None:
                bad = (
                    df.select(F.col(value_col).cast("string").alias("v"))
                    .filter(F.col("v").isNotNull() & ~F.col("v").isin(list(ct)))
                    .limit(5)
                    .collect()
                )
                if bad:
                    raise ValueError(
                        f"Derived value {bad[0]['v']!r} for class {label!r} is not "
                        "compliant with controlled terminology: (1) extend the CT "
                        "or (2) update the derivation"
                    )
            # CLD_NAN discipline (action.py:1656-1660): with keep_nulls, null
            # values merge into ONE node per class whose value property is
            # NULL (the reference's fillna('CLD_NAN') + property cleanup)
            if a.get("keep_nulls"):
                keyed = F.coalesce(F.col(value_col).cast("string"), F.lit("CLD_NAN"))
            else:
                keyed = F.col(value_col).cast("string")
            nodes = (
                df.select(keyed.alias("_key"))
                .filter(F.col("_key").isNotNull())
                .distinct()
                .select(
                    F.xxhash64(F.lit(label), F.col("_key")).alias("node_id"),
                    F.lit(label).alias("class"),
                    F.nullif(F.col("_key"), F.lit("CLD_NAN")).alias("rdfs_label")
                    if a.get("keep_nulls")
                    else F.col("_key").alias("rdfs_label"),
                    node_uri_col(F.lit(label), F.col("_key")).alias("uri"),
                    F.lit(None).cast("map<string,string>").alias("props"),
                )
            )
            res.new_nodes.append(nodes)
            return df.withColumn(f"_id_{label}", F.xxhash64(F.lit(label), keyed))
        if t == "assign_label":
            # D5 id-list form (action.py:1300-1337): SET an EXTRA label on
            # the nodes whose ids the df already carries; Neo4j's
            # multi-label becomes a (node_id, extra_label) side-table batch
            # (same shape as refactor.label_entities), and the new label's
            # id column mirrors the on-class's (action.py:1322-1325)
            on, label = a["on"], a["class"]
            id_col = f"_id_{on}"
            if id_col not in df.columns:
                raise ValueError(f"assign_label needs {id_col} in the df")
            batch = (
                df.select(F.col(id_col).alias("node_id"))
                .filter(F.col("node_id").isNotNull())
                .distinct()
                .withColumn("extra_label", F.lit(label))
            )
            res.new_labels.append(batch)
            return df.withColumn(f"_id_{label}", F.col(id_col))
        if t == "link":
            return self._link(a, res)
        if t == "link_stat":
            # D7 LinkStat (action.py:1909-2010): one stat node per
            # dimension combination (uri = deterministic key of the dims),
            # linked from each dimension's node id column
            label = a["class"]
            dims = a["uri_by"]
            uri = node_uri_col(F.lit(label), *[F.col(c).cast("string") for c in dims])
            with_uri = df.withColumn("_stat_uri", uri)
            stat_nodes = (
                with_uri.select(
                    F.xxhash64(F.col("_stat_uri")).alias("node_id"),
                    F.lit(label).alias("class"),
                    F.col(a["value_col"]).cast("string").alias("rdfs_label"),
                    F.col("_stat_uri").alias("uri"),
                    F.lit(None).cast("map<string,string>").alias("props"),
                ).dropDuplicates(["node_id"])
            )
            res.new_nodes.append(stat_nodes)
            for dim_id_col in a.get("link_from", []):
                res.new_edges.append(
                    with_uri.select(
                        F.col(dim_id_col).alias("src"),
                        F.lit(a.get("relationship_type", label)).alias("rel_type"),
                        F.xxhash64(F.col("_stat_uri")).alias("dst"),
                    ).filter(F.col("src").isNotNull()).dropDuplicates()
                )
            return with_uri.drop("_stat_uri")
        if t == "branch_save":
            res.branches[a["name"]] = df
            return df
        if t == "branch_load":
            return res.branches[a["name"]]
        if t == "branch_combine":
            # J12: natural join on all shared columns (action.py:2238-2263)
            other = res.branches[a["with"]]
            common = [c for c in df.columns if c in set(other.columns)]
            return df.join(other, common, a.get("how", "inner"))
        if t == "apply_stat":
            from tab2neo_spark.operators.stats import (
                dimension_combination_stats,
                percentage_of_total,
            )

            if a.get("percentage_by"):
                return percentage_of_total(
                    df,
                    dims=a["dims"],
                    denominator_dims=a["percentage_by"],
                    value_col=a["value_col"],
                    dp=a.get("percentage_dp", 2),
                )
            return dimension_combination_stats(
                df,
                required=a.get("dims", []),
                optional=a.get("optional_dims", []),
                value_col=a["value_col"],
                stats=a.get("stats", ["n"]),
            )
        raise AssertionError(t)

    def _link(self, a: dict, res: MethodResult) -> DataFrame:
        """D6 Link, all four reference scenarios (action.py:1538-1596):

        1. ``from_id`` + ``to_id``: id-pair columns -> one edge per row
        2. ``from_id`` + literal ``to_value``: MERGE one node by
           (to_class, to_value), link EVERY row's from node to it, and
           write the merged node's id back as ``_id_<to_class>``
        3. symmetric: literal ``from_value`` + ``to_id``
        4. both literal: merge both nodes and a single edge

        Merged literal nodes use the same deterministic id scheme as
        assign_class, so scenario-2/3 nodes unify with value-derived ones.
        """
        df = res.df
        rel_type = a["relationship_type"]

        # partition columns are projected as literals, not read from the
        # one-row frame: the literal is a plan constraint, so the keyed
        # write prunes its anti-join without a probe job
        def _literal_node(cls: str, value: str) -> DataFrame:
            node = self.spark.createDataFrame(
                [(str(value),)], "rdfs_label string"
            ).select(
                F.xxhash64(F.lit(cls), F.col("rdfs_label")).alias("node_id"),
                F.lit(cls).alias("class"),
                "rdfs_label",
                node_uri_col(F.lit(cls), F.col("rdfs_label")).alias("uri"),
                F.lit(None).cast("map<string,string>").alias("props"),
            )
            return node

        has_from_lit = "from_value" in a
        has_to_lit = "to_value" in a
        if not has_from_lit and not has_to_lit:
            # scenario 1
            edges = (
                df.select(
                    F.col(a["from_id"]).alias("src"),
                    F.lit(rel_type).alias("rel_type"),
                    F.col(a["to_id"]).alias("dst"),
                )
                .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
                .dropDuplicates()
            )
            res.new_edges.append(edges)
            return df

        out = df
        if has_to_lit:
            cls, value = a["to_class"], str(a["to_value"])
            res.new_nodes.append(_literal_node(cls, value))
            out = out.withColumn(
                f"_id_{cls}", F.xxhash64(F.lit(cls), F.lit(value))
            )
        if has_from_lit:
            cls, value = a["from_class"], str(a["from_value"])
            res.new_nodes.append(_literal_node(cls, value))
            out = out.withColumn(
                f"_id_{cls}", F.xxhash64(F.lit(cls), F.lit(value))
            )

        if has_from_lit and has_to_lit:
            # scenario 4: a single edge between the two merged nodes
            edges = self.spark.createDataFrame(
                [(str(a["from_value"]), str(a["to_value"]))],
                "fv string, tv string",
            ).select(
                F.xxhash64(F.lit(a["from_class"]), F.col("fv")).alias("src"),
                F.lit(rel_type).alias("rel_type"),
                F.xxhash64(F.lit(a["to_class"]), F.col("tv")).alias("dst"),
            )
            res.new_edges.append(edges)
            return out

        src_col = a["from_id"] if has_to_lit else f"_id_{a['from_class']}"
        dst_col = f"_id_{a['to_class']}" if has_to_lit else a["to_id"]
        edges = (
            out.select(
                F.col(src_col).alias("src"),
                F.lit(rel_type).alias("rel_type"),
                F.col(dst_col).alias("dst"),
            )
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .dropDuplicates()
        )
        res.new_edges.append(edges)
        return out


def resolve_methods_order(methods: dict[str, dict]) -> list[str]:
    """D12: Kahn topological order from explicit prerequisites
    (derivation_method.py:702-762; utils.py:235-250). ``methods`` maps
    name -> spec; spec['prerequisites'] lists method names."""
    deps = {name: set(spec.get("prerequisites", [])) for name, spec in methods.items()}
    order: list[str] = []
    ready = sorted(n for n, d in deps.items() if not d)
    while ready:
        n = ready.pop(0)
        order.append(n)
        for m in sorted(deps):
            if n in deps[m]:
                deps[m].discard(n)
                if not deps[m] and m not in order and m not in ready:
                    ready.append(m)
        ready.sort()
    if len(order) != len(methods):
        missing = set(methods) - set(order)
        raise ValueError(f"cyclic or unsatisfiable prerequisites: {sorted(missing)}")
    return order
