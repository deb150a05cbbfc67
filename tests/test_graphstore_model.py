"""Model-based test of the GraphStore (QuickCheck-style stateful testing).

A hypothesis state machine drives one small store through random sequences
of keyed and unkeyed writes, method results, run and action rollbacks,
compactions, time-travel reads and re-invoked stages. The model is a plain
Python multiset of rows per table, each row tagged with the run and action
that wrote it; after every step each table must hold exactly the model's
rows, ``checkpoints()`` must list exactly the model's runs and stages with
their status, and reads and rollbacks of files no compaction merged must run
no Spark job.

The suite's run is derandomized, so it stays deterministic. A longer
randomized run, from the repository root:

    python -c "import sys; sys.path[:0] = ['.', 'tests']; import test_graphstore_model as t; \
      from tab2neo_spark.session import get_spark; t.check_model(get_spark(), examples=200)"
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import tempfile
from collections import Counter
from functools import reduce

from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tab2neo_spark.kg.materialize import GraphStore, write_method_result
from tab2neo_spark.pipeline.runner import MethodResult

# run r's stage names are a prefix of run r__retry's
RUNS = ("r", "r__retry")
# node i's class is CLASSES[i % 3], so the dedup key determines the
# partition value; None writes the NULL partition
CLASSES = ("A", "B", None)
NODE_SCHEMA = "node_id long, class string, label string"
EDGE_SCHEMA = "src long, rel_type string, dst long, label string"
# table -> (partition columns, dedup key, data columns)
TABLES = {
    "nodes": (["class"], ["node_id"], ["node_id", "class", "label"]),
    "flat": ([], ["node_id"], ["node_id", "class", "label"]),
    "edges": (["rel_type"], ["src", "rel_type", "dst"], ["src", "rel_type", "dst", "label"]),
}

node_ids = st.lists(st.integers(0, 8), min_size=1, max_size=4, unique=True)
edge_keys = st.lists(
    st.tuples(st.integers(0, 3), st.sampled_from(["R", "S"]), st.integers(0, 3)),
    max_size=3, unique=True)
runs = st.sampled_from(RUNS)
actions = st.integers(1, 2)
table_sets = st.sets(st.sampled_from(list(TABLES)), min_size=1).map(sorted)

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"model_{next(_GROUPS)}"
    sc.setJobGroup(group, "GraphStore model job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class _Model:
    """Rows per table as [values..., run_id, _action] lists with a
    ``merged`` flag (the row was in the table when it was compacted), and
    every stage record with its status and commit order."""

    def __init__(self):
        self.rows: dict[str, list[tuple[tuple, bool]]] = {}
        self.stages: dict[tuple[str, str], dict] = {}
        self.runs: set[str] = set()
        self.clock = itertools.count()

    def keys(self, table):
        _, key, cols = TABLES[table]
        return {tuple(r[cols.index(k)] for k in key) for r, _ in self.rows.get(table, [])}

    def write(self, table, run, stage, values, keyed, action=None) -> int:
        _, key, cols = TABLES[table]
        self.rows.setdefault(table, [])
        seen = self.keys(table)
        new = [v for v in values
               if not keyed or tuple(v[cols.index(k)] for k in key) not in seen]
        self.rows[table] += [((*v, run, action), False) for v in new]
        self.stages[(run, stage)] = {"table": table, "status": "done",
                                     "order": next(self.clock)}
        self.runs.add(run)
        return len(new)

    def rollback(self, run, tables, action=None) -> list[tuple[str, str]]:
        """Drop the matching rows and mark every stage whose table lost
        rows. Returns the stages left open: done stages in ``tables`` whose
        table lost no row (an empty keyed write). A store may mark those
        rolled back or not, so the model adopts what the store says."""
        changed = set()
        for t in tables:
            rows = self.rows.get(t, [])
            keep = [(r, m) for r, m in rows
                    if not (r[-2] == run and (action is None or r[-1] == action))]
            if len(keep) != len(rows):
                changed.add(t)
            if t in self.rows:
                self.rows[t] = keep
        marker = "" if action is None else f"__a{action}_"
        open_ = []
        for (r, stage), rec in self.stages.items():
            if r == run and marker in stage:
                if rec["table"] in changed:
                    rec["status"] = "rolled_back"
                elif rec["table"] in tables and rec["status"] == "done":
                    open_.append((r, stage))
        return open_

    def visible(self, table, run) -> list[tuple] | None:
        """The rows read(table, as_of_run=run) returns, or None when it
        must raise."""
        last: dict[str, int] = {}
        for (r, _), rec in self.stages.items():
            if rec["table"] == table and rec["status"] == "done":
                last[r] = max(last.get(r, -1), rec["order"])
        if run not in last:
            return None
        shown = {r for r, t in last.items() if t <= last[run]}
        return [row for row, _ in self.rows[table] if row[-2] in shown]


class GraphStoreMachine(RuleBasedStateMachine):
    spark = None

    def __init__(self):
        super().__init__()
        self.dir = tempfile.mkdtemp(prefix="graphstore_model_")
        self.store = GraphStore(self.spark, os.path.join(self.dir, "g"))
        self.model = _Model()
        self.n = 0
        # every write_stage and method call, to invoke again
        self.calls: list[tuple] = []

    def teardown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    # -- frames ---------------------------------------------------------------

    def _node_values(self, ids, label):
        return [(i, CLASSES[i % 3], label) for i in ids]

    def _frame(self, table, values):
        return self.spark.createDataFrame(
            values, EDGE_SCHEMA if table == "edges" else NODE_SCHEMA)

    # -- steps ----------------------------------------------------------------

    def _write(self, run, stage, table, keyed, values):
        parts, key, _ = TABLES[table]
        payload = self.store.write_stage(
            self._frame(table, values), table, run, stage,
            partition_by=parts or None, dedup_key=key if keyed else None)
        prior = self.model.stages.get((run, stage))
        if prior is not None and prior["status"] == "done":
            assert payload == prior["payload"]
            return
        assert payload["row_count"] == self.model.write(table, run, stage, values, keyed)
        self.model.stages[(run, stage)]["payload"] = payload

    @rule(run=runs, table=st.sampled_from(["nodes", "flat"]), keyed=st.booleans(),
          ids=node_ids)
    def write_stage(self, run, table, keyed, ids):
        stage = f"s{self.n}"
        self.n += 1
        values = self._node_values(ids, f"{run}/{stage}")
        self.calls.append(("stage", run, stage, table, keyed, values))
        self._write(run, stage, table, keyed, values)

    def _method(self, run, name, node_batches, edge_batches):
        res = MethodResult(
            df=None,
            new_nodes=[self._frame("nodes", v) for _, v in node_batches],
            node_actions=[a for a, _ in node_batches],
            new_edges=[self._frame("edges", v) for _, v in edge_batches],
            edge_actions=[a for a, _ in edge_batches])
        out = write_method_result(self.store, res, run, name)
        for table, batches in (("nodes", node_batches), ("edges", edge_batches)):
            for j, (a, values) in enumerate(batches):
                stage = f"{name}__a{a}_{table}{j}"
                prior = self.model.stages.get((run, stage))
                if prior is not None and prior["status"] == "done":
                    assert out[stage] == prior["payload"]
                    continue
                n = self.model.write(table, run, stage, values, True, action=a)
                assert out[stage]["row_count"] == n
                self.model.stages[(run, stage)]["payload"] = out[stage]

    @rule(run=runs, nodes=st.lists(st.tuples(actions, node_ids), min_size=1, max_size=2),
          edges=st.lists(st.tuples(actions, edge_keys), max_size=1))
    def method(self, run, nodes, edges):
        name = f"m{self.n}"
        self.n += 1
        node_batches = [(a, self._node_values(ids, f"{run}/{name}/{a}")) for a, ids in nodes]
        edge_batches = [(a, [(*k, f"{run}/{name}/{a}") for k in keys]) for a, keys in edges]
        self.calls.append(("method", run, name, node_batches, edge_batches))
        self._method(run, name, node_batches, edge_batches)

    @initialize(run=runs, ids=node_ids, nodes=st.lists(st.tuples(actions, node_ids),
                                                      min_size=1, max_size=2))
    def seed(self, run, ids, nodes):
        """Start every example from a table of direct and action rows."""
        self.write_stage(run, "nodes", True, ids)
        self.method(RUNS[1 - RUNS.index(run)], nodes, [])

    @precondition(lambda self: self.calls)
    @rule(data=st.data())
    def reinvoke(self, data):
        """Resume: call a stage or method again with the same input; done
        stages are skipped with their recorded payload, rolled-back ones
        write again."""
        call = data.draw(st.sampled_from(self.calls))
        if call[0] == "stage":
            _, run, stage, table, keyed, values = call
            self._write(run, stage, table, keyed, values)
        else:
            self._method(*call[1:])

    def _uncompacted(self, tables) -> bool:
        """No row of ``tables`` sits in a file compaction merged."""
        return not any(m for t in tables for _, m in self.model.rows.get(t, []))

    def _adopt(self, stages):
        """Take the store's status for the stages a rollback left open."""
        status = {(c["run_id"], c["stage"]): c["status"] for c in self.store.checkpoints()}
        for key in stages:
            self.model.stages[key]["status"] = status[key]

    @rule(run=runs, tables=table_sets)
    def rollback_run(self, run, tables):
        uncompacted = self._uncompacted(tables)
        _, jobs = _jobs(self.spark, lambda: self.store.rollback_run(run, tables))
        self._adopt(self.model.rollback(run, tables))
        if uncompacted:
            assert jobs == 0

    @rule(run=runs, action=actions, tables=table_sets)
    def rollback_action(self, run, action, tables):
        uncompacted = self._uncompacted(tables)
        _, jobs = _jobs(self.spark,
                        lambda: self.store.rollback_action(run, action, tables))
        self._adopt(self.model.rollback(run, tables, action))
        if uncompacted:
            assert jobs == 0

    @precondition(lambda self: self.model.rows)
    @rule(data=st.data())
    def compact(self, data):
        table = data.draw(st.sampled_from([t for t in TABLES if t in self.model.rows]))
        payload = self.store.compact(table)
        rows = self.model.rows[table]
        assert payload["row_count"] == payload["rows_after"] == len(rows)
        self.model.rows[table] = [(r, True) for r, _ in rows]
        self.model.runs.add("__compact__")

    @precondition(lambda self: self.model.rows)
    @rule(data=st.data(), run=runs)
    def read_as_of(self, data, run):
        table = data.draw(st.sampled_from([t for t in TABLES if t in self.model.rows]))
        expected = self.model.visible(table, run)
        try:
            df, jobs = _jobs(self.spark, lambda: self.store.read(table, as_of_run=run))
        except ValueError:
            assert expected is None
            return
        assert expected is not None and jobs == 0
        assert self._counts({table: df})[table] == Counter(expected)

    # -- invariants -------------------------------------------------------------

    def _counts(self, frames: dict) -> dict[str, Counter]:
        """{table: multiset of (values..., run_id, _action)} of each table's
        frame, collected in one job."""
        rows = []
        for t, df in frames.items():
            action = F.col("_action") if "_action" in df.columns else F.lit(None)
            rows.append(df.select(F.lit(t).alias("t"), F.to_json(F.struct(
                *TABLES[t][2], "run_id", action.cast("int").alias("_action"))).alias("row")))
        out = {t: Counter() for t in frames}
        for r in reduce(DataFrame.unionByName, rows).collect():
            d = json.loads(r["row"])
            out[r["t"]][tuple(d.get(c) for c in TABLES[r["t"]][2] + ["run_id", "_action"])] += 1
        return out

    @invariant()
    def tables_equal_the_model(self):
        if not self.model.rows:
            return
        frames, jobs = _jobs(self.spark, lambda: {t: self.store.read(t) for t in self.model.rows})
        assert jobs == 0
        assert self._counts(frames) == {
            t: Counter(r for r, _ in rows) for t, rows in self.model.rows.items()}

    @invariant()
    def checkpoints_equal_the_model(self):
        assert {c["run_id"] for c in self.store.checkpoints()} == self.model.runs
        for run in RUNS:
            got = sorted((c["run_id"], c["stage"], c["status"])
                         for c in self.store.checkpoints(run))
            assert got == sorted((r, s, rec["status"])
                                 for (r, s), rec in self.model.stages.items() if r == run)


def check_model(spark, examples=None):
    """Run the state machine: derandomized, or ``examples`` randomized
    examples."""
    GraphStoreMachine.spark = spark
    run_state_machine_as_test(GraphStoreMachine, settings=settings(
        max_examples=examples or 8, stateful_step_count=15,
        derandomize=not examples, database=None, deadline=None,
        suppress_health_check=list(HealthCheck)))


def test_graphstore_matches_its_model(spark):
    check_model(spark)
