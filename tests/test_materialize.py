"""Materialization: lineage, idempotent resume, dedup-on-write, rollback
(north rule: per-partition lineage + row-count metrics, idempotent resume)."""

from __future__ import annotations

import itertools
import os
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tab2neo_spark.datagen import pages_from_documents
from tab2neo_spark.kg.construct import construct_kg
from tab2neo_spark.kg.materialize import GraphStore, materialize_kg


def _parquet_files(path):
    """The parquet files under a table directory."""
    return {os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")}


def _mk_kg(spark, sf_dir, n=80):
    pages = pages_from_documents(spark, sf_dir).limit(n)
    return construct_kg(spark, pages, unique_urls=True)


def test_materialize_and_lineage(spark, sf_dir):
    kg = _mk_kg(spark, sf_dir)
    with tempfile.TemporaryDirectory() as root:
        store = GraphStore(spark, root)
        res = materialize_kg(store, kg, run_id="r1")
        assert res["nodes"]["status"] == "done"
        assert res["nodes"]["row_count"] == store.read("nodes").count()
        # per-partition histogram sums to the row count
        assert sum(res["triples"]["partitions"].values()) == res["triples"]["row_count"]
        # partition layout serves readback pruning
        assert store.read("nodes").filter(F.col("class") == "Page").count() == 80


def test_resume_skips_done_stages(spark, sf_dir):
    kg = _mk_kg(spark, sf_dir)
    with tempfile.TemporaryDirectory() as root:
        store = GraphStore(spark, root)
        r1 = materialize_kg(store, kg, run_id="r1")
        n1 = store.read("triples").count()
        # resume with same run_id: all stages skip, tables unchanged
        r2 = materialize_kg(store, kg, run_id="r1")
        assert store.read("triples").count() == n1
        assert r2["triples"]["ts"] == r1["triples"]["ts"]  # untouched checkpoint


def test_dedup_on_write_is_idempotent_across_runs(spark, sf_dir):
    """A second run over overlapping input must not duplicate rows —
    deterministic ids + anti-join dedup replace transactional MERGE."""
    with tempfile.TemporaryDirectory() as root:
        store = GraphStore(spark, root)
        materialize_kg(store, _mk_kg(spark, sf_dir, 80), run_id="r1")
        n_nodes = store.read("nodes").count()
        # r2 processes the same 80 pages again (e.g. crawl re-delivery)
        materialize_kg(store, _mk_kg(spark, sf_dir, 80), run_id="r2")
        assert store.read("nodes").count() == n_nodes
        assert store.read("nodes").select("node_id").distinct().count() == n_nodes


def test_incremental_run_appends_only_new(spark, sf_dir):
    with tempfile.TemporaryDirectory() as root:
        store = GraphStore(spark, root)
        materialize_kg(store, _mk_kg(spark, sf_dir, 50), run_id="r1")
        n1 = store.read("triples").count()
        materialize_kg(store, _mk_kg(spark, sf_dir, 80), run_id="r2")
        n2 = store.read("triples").count()
        assert n2 > n1
        # every triple unique
        assert store.read("triples").select("subj", "pred", "obj").distinct().count() == n2


def test_rollback_run(spark, sf_dir):
    with tempfile.TemporaryDirectory() as root:
        store = GraphStore(spark, root)
        materialize_kg(store, _mk_kg(spark, sf_dir, 50), run_id="r1")
        n1 = store.read("triples").count()
        materialize_kg(store, _mk_kg(spark, sf_dir, 80), run_id="r2")
        store.rollback_run("r2", ["nodes", "edges", "triples"])
        assert store.read("triples").count() == n1
        assert {r["run_id"] for r in store.read("triples").select("run_id").distinct().collect()} == {"r1"}
        statuses = {c["stage"]: c["status"] for c in store.checkpoints("r2")}
        assert set(statuses.values()) == {"rolled_back"}


def test_write_stage_single_job(spark, tmp_path):
    """Lineage must ride on the write itself (df.observe + footer counts):
    exactly ONE Spark job per fresh write_stage — the old pre-write
    groupBy().count().collect() executed the stage DAG twice."""
    from tab2neo_spark.kg.materialize import GraphStore

    store = GraphStore(spark, str(tmp_path / "g"))
    df = spark.range(1000).select(
        F.col("id").alias("node_id"), F.lit("C").alias("class")
    )
    sc = spark.sparkContext
    sc.setJobGroup("ws_single_job", "write_stage job-count probe")
    try:
        payload = store.write_stage(df, "nodes", "r1", "nodes")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("ws_single_job")
    assert len(jobs) == 1, f"write_stage ran {len(jobs)} jobs, expected 1"
    assert payload["row_count"] == 1000
    # footer-derived histogram still sums to the observed count
    assert sum(payload["partitions"].values()) == 1000


def test_per_action_rollback(spark, tmp_path):
    """Changes-analog (action.py:1699-1749): revert ONE action's writes
    while keeping the other actions' nodes/edges."""
    from tab2neo_spark.kg.materialize import GraphStore, write_method_result
    from tab2neo_spark.pipeline.runner import DerivationMethod

    df = spark.createDataFrame(
        [("S1", "M"), ("S2", "F")], "Subject string, Sex string"
    )
    spec = {
        "name": "two_writes",
        "actions": [
            {"type": "get_data"},
            {"type": "assign_class", "class": "Subject", "value_column": "Subject"},
            {"type": "assign_class", "class": "Sex", "value_column": "Sex"},
            {"type": "link", "relationship_type": "HAS_SEX",
             "from_id": "_id_Subject", "to_id": "_id_Sex"},
        ],
    }
    res = DerivationMethod(spark, spec, source_df=df).apply()
    assert res.node_actions == [1, 2] and res.edge_actions == [3]

    store = GraphStore(spark, str(tmp_path / "g"))
    write_method_result(store, res, "r1", "two_writes")
    assert store.read("nodes").count() == 4
    assert store.read("edges").count() == 2

    # revert only action 2 (the Sex class assignment)
    store.rollback_action("r1", 2, ["nodes", "edges"])
    nodes = store.read("nodes")
    assert nodes.count() == 2
    assert {r["class"] for r in nodes.collect()} == {"Subject"}
    # other actions' writes survive
    assert store.read("edges").count() == 2
    # that action's checkpoints are marked, others untouched
    by_stage = {c["stage"]: c["status"] for c in store.checkpoints("r1")}
    assert by_stage["two_writes__a2_nodes1"] == "rolled_back"
    assert by_stage["two_writes__a1_nodes0"] == "done"


def test_assign_label_rollback(spark, tmp_path):
    """Rolling back an assign_label action removes ONLY its extra labels
    (the reference's REMOVE instance:label inverse, action.py:1339-1376)."""
    from tab2neo_spark.kg.materialize import GraphStore, write_method_result
    from tab2neo_spark.pipeline.runner import DerivationMethod

    df = spark.createDataFrame([("S1",), ("S2",)], "Subject string")
    spec = {
        "name": "al",
        "actions": [
            {"type": "get_data"},
            {"type": "assign_class", "class": "Subject", "value_column": "Subject"},
            {"type": "assign_label", "class": "Enrolled", "on": "Subject"},
            {"type": "assign_label", "class": "Safety", "on": "Subject"},
        ],
    }
    res = DerivationMethod(spark, spec, source_df=df).apply()
    store = GraphStore(spark, str(tmp_path / "g"))
    write_method_result(store, res, "r1", "al")
    assert store.read("labels").count() == 4
    store.rollback_action("r1", 2, ["labels"])
    kept = store.read("labels")
    assert kept.count() == 2
    assert {r["extra_label"] for r in kept.collect()} == {"Safety"}


def test_rollback_action_keeps_rows_without_action_column(spark, tmp_path):
    """Same run_id, same table, two writers: one batch has no _action
    column. rollback_action(run, 2) must delete ONLY (run, _action=2) rows
    — the NULL-_action rows survive (previously the NULL predicate dropped
    them, or a non-merged schema silently no-op'ed the rollback)."""
    from tab2neo_spark.kg.materialize import GraphStore

    store = GraphStore(spark, str(tmp_path / "g"))
    schema = "node_id long, class string, rdfs_label string"
    plain = spark.createDataFrame([(1, "Subject", "s1"), (2, "Subject", "s2")], schema)
    acted = spark.createDataFrame([(3, "Sex", "M"), (4, "Sex", "F")], schema)

    # writer A: no _action column (the materialize_kg path)
    store.write_stage(plain, "nodes", "r1", "plain",
                      partition_by=["class"], dedup_key=["node_id"])
    # writer B: action-provenance rows (the write_method_result path)
    store.write_stage(acted.withColumn("_action", F.lit(2)), "nodes", "r1",
                      "m__a2_nodes0", partition_by=["class"],
                      dedup_key=["node_id"])

    store.rollback_action("r1", 2, ["nodes"])
    kept = store.read("nodes")
    assert {r["rdfs_label"] for r in kept.collect()} == {"s1", "s2"}


def test_rollback_action_absent_column_noops(spark, tmp_path):
    """A table with NO action-written rows at all: rollback_action is a
    no-op (and must not crash on the absent column)."""
    from tab2neo_spark.kg.materialize import GraphStore

    store = GraphStore(spark, str(tmp_path / "g"))
    df = spark.createDataFrame([(1, "A", "x")],
                               "node_id long, class string, rdfs_label string")
    store.write_stage(df, "nodes", "r1", "s0", partition_by=["class"])
    store.rollback_action("r1", 0, ["nodes"])
    assert store.read("nodes").count() == 1


def test_upsert_anti_join_scan_is_partition_pruned(spark, tmp_path):
    """Incremental keyed upserts must not re-read the whole target table:
    when the batch touches a subset of partitions, the existing-keys
    anti-join scan carries PartitionFilters for exactly those partitions,
    and dedup semantics inside them are unchanged."""
    from tab2neo_spark.kg.materialize import GraphStore

    store = GraphStore(spark, str(tmp_path / "g"))
    schema = "node_id long, class string, rdfs_label string"
    first = spark.createDataFrame(
        [(1, "A", "a1"), (2, "A", "a2"), (3, "B", "b1")], schema
    )
    store.write_stage(first, "nodes", "r1", "s1",
                      partition_by=["class"], dedup_key=["node_id"])

    # batch touching ONLY class A: one dup (node 1) + one new row
    batch = spark.createDataFrame([(1, "A", "a1"), (4, "A", "a4")], schema)
    existing, n = store._existing_for_dedup(
        store.path("nodes"), batch, ["class"]
    )
    assert n == 1
    plan = existing._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "class" in plan.split("PartitionFilters")[1][:120]
    # the pruned read sees only class A rows
    assert {r["class"] for r in existing.collect()} == {"A"}

    payload = store.write_stage(batch, "nodes", "r2", "s2",
                                partition_by=["class"], dedup_key=["node_id"])
    assert payload["dedup_scan_partitions"] == 1
    assert payload["row_count"] == 1  # dup dropped, new row written
    got = {(r["node_id"], r["class"]) for r in store.read("nodes").collect()}
    assert got == {(1, "A"), (2, "A"), (3, "B"), (4, "A")}


def test_graphstore_time_travel_read(spark, tmp_path, monkeypatch):
    """read(table, as_of_run=...) reconstructs the table as it stood
    after a given run's commit (lineage-driven visibility); a rolled-back
    run disappears from every snapshot; unknown runs raise. Commits are
    ordered by the log, so a clock that reads the same for every commit
    (several commits in one tick) changes nothing."""
    import types

    import pytest as _pytest

    from tab2neo_spark.kg import materialize as M

    def tags(df):
        return sorted({r["tag"] for r in df.collect()})

    for clock in ("real", "tied"):
        if clock == "tied":
            monkeypatch.setattr(M, "time", types.SimpleNamespace(time=lambda: 1.0))
        store = M.GraphStore(spark, str(tmp_path / clock))
        for i, run in enumerate(["r1", "r2", "r3"]):
            df = spark.createDataFrame(
                [(run, j) for j in range(3 + i)], "tag string, v int"
            )
            store.write_stage(df, "nodes", run, f"stage_{run}")

        assert tags(store.read("nodes")) == ["r1", "r2", "r3"]
        assert tags(store.read("nodes", as_of_run="r1")) == ["r1"]
        assert tags(store.read("nodes", as_of_run="r2")) == ["r1", "r2"]
        assert store.read("nodes", as_of_run="r2").count() == 7  # 3 + 4 rows

        store.rollback_run("r3", ["nodes"])
        assert tags(store.read("nodes")) == ["r1", "r2"]
        with _pytest.raises(ValueError, match="no surviving commit"):
            store.read("nodes", as_of_run="r3")
        assert tags(store.read("nodes", as_of_run="r2")) == ["r1", "r2"]


def test_graphstore_compaction(spark, tmp_path):
    """Compaction (VERDICT r4 #10): many small append runs collapse to
    ~one file per partition value; read-back content is hash-identical,
    the partition layout contract survives, time-travel visibility is
    unaffected, and the lineage checkpoint records the file counts."""
    from tab2neo_spark.kg.materialize import GraphStore

    store = GraphStore(spark, str(tmp_path / "g"))
    for i in range(6):
        df = spark.createDataFrame(
            [(f"r{i}", j, "A" if j % 2 else "B") for j in range(10)],
            "tag string, v int, cls string",
        )
        store.write_stage(df, "nodes", f"r{i}", f"s{i}", partition_by=["cls"])

    def snapshot(df):
        return sorted(map(tuple, df.select("tag", "v", "cls", "run_id").collect()))

    before_rows = snapshot(store.read("nodes"))
    n_before = len(_parquet_files(store.path("nodes")))
    assert n_before >= 12  # 6 runs x 2 partition values, at least

    payload = store.compact("nodes")
    n_after = len(_parquet_files(store.path("nodes")))
    assert n_after < n_before and n_after <= 4
    assert payload["files_before"] == n_before
    assert payload["files_after"] == n_after
    assert payload["row_count"] == payload["rows_after"] == 60

    # content identical, partition layout contract intact
    assert snapshot(store.read("nodes")) == before_rows
    assert store.table_partitioning("nodes") == ["cls"]
    import os as _os

    subdirs = {
        d for d in _os.listdir(store.path("nodes")) if d.startswith("cls=")
    }
    assert subdirs == {"cls=A", "cls=B"}

    # time travel still reads through checkpoint lineage (compaction is
    # not a data commit: as_of '__compact__' must NOT become addressable)
    assert {r[3] for r in snapshot(store.read("nodes", as_of_run="r2"))} == {
        "r0", "r1", "r2"
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no surviving commit"):
        store.read("nodes", as_of_run="__compact__")

    # lineage artifact recorded
    recs = [r for r in store.checkpoints("__compact__") if r["op"] == "compact"]
    assert len(recs) == 1 and recs[0]["table_compacted"] == "nodes"


def test_compact_aborts_on_row_loss_and_keeps_original(spark, tmp_path, monkeypatch):
    from tab2neo_spark.kg import materialize as M

    store = M.GraphStore(spark, str(tmp_path / "g"))
    store.write_stage(spark.range(100).select(F.col("id").alias("node_id")), "t", "r1", "s")

    real = M.GraphStore._staged

    def sabotaged(self, table):
        # simulate a row-losing rewrite (or a concurrent append having
        # landed in the source after the snapshot read)
        h = real(self, table)
        k = next(iter(h))
        h[k] = (h[k][0] - 1, h[k][1])
        return h

    monkeypatch.setattr(M.GraphStore, "_staged", sabotaged)
    with pytest.raises(RuntimeError, match="aborting before the commit"):
        store.compact("t")
    monkeypatch.setattr(M.GraphStore, "_staged", real)
    # original directory untouched, readable, full row count
    assert spark.read.parquet(store.path("t")).count() == 100


def test_compact_still_works_when_counts_match(spark, tmp_path):
    from tab2neo_spark.kg.materialize import GraphStore

    store = GraphStore(spark, str(tmp_path / "g2"))
    store.write_stage(spark.range(50).selectExpr("id as node_id").repartition(8), "t", "r1", "s")
    assert len(_parquet_files(store.path("t"))) == 8
    out = store.compact("t")
    assert out["row_count"] == 50 and out["rows_after"] == 50
    assert spark.read.parquet(store.path("t")).count() == 50


def test_rollback_run_keeps_action_provenance(spark, tmp_path):
    """Rolling back an UNRELATED run must keep ``_action`` on every kept
    row: a rewrite that read one footer without it dropped the column, and
    a later rollback_action then silently kept the action's rows."""
    from tab2neo_spark.kg.materialize import GraphStore, write_method_result
    from tab2neo_spark.pipeline.runner import DerivationMethod

    store = GraphStore(spark, str(tmp_path / "g"))
    schema = "node_id long, class string, rdfs_label string"
    plain = [(i, c, f"{c}{i}") for i, c in enumerate(["Arm", "Dose", "Epoch", "Visit"])]
    store.write_stage(spark.createDataFrame(plain, schema), "nodes", "r0", "plain",
                      partition_by=["class"], dedup_key=["node_id"])
    res = DerivationMethod(spark, {
        "name": "m",
        "actions": [
            {"type": "get_data"},
            {"type": "assign_class", "class": "Subject", "value_column": "Subject"},
        ],
    }, source_df=spark.createDataFrame([("S1",), ("S2",)], "Subject string")).apply()
    write_method_result(store, res, "r1", "m")
    more = [(10 + i, c, f"{c}x") for i, c in enumerate(["Arm", "Site"])]
    store.write_stage(spark.createDataFrame(more, schema), "nodes", "r2", "plain",
                      partition_by=["class"], dedup_key=["node_id"])

    store.rollback_run("r2", ["nodes"])
    store.rollback_action("r1", 1, ["nodes"])
    nodes = store.read("nodes")
    assert nodes.filter(F.col("run_id") == "r1").count() == 0
    assert {r["run_id"] for r in nodes.collect()} == {"r0"}


def test_rollback_action_flips_only_rewritten_tables_checkpoints(spark, tmp_path):
    """A literal-target link writes a node AND edges under one action;
    rolling that action back on ``edges`` alone must leave its ``nodes``
    stage (whose row is still stored) marked done."""
    from tab2neo_spark.kg.materialize import GraphStore, write_method_result
    from tab2neo_spark.pipeline.runner import DerivationMethod

    res = DerivationMethod(spark, {
        "name": "m",
        "actions": [
            {"type": "get_data"},
            {"type": "assign_class", "class": "Subject", "value_column": "Subject"},
            {"type": "link", "relationship_type": "IN_STUDY",
             "from_id": "_id_Subject", "to_class": "Study", "to_value": "STUDY1"},
        ],
    }, source_df=spark.createDataFrame([("S1",), ("S2",)], "Subject string")).apply()
    assert res.node_actions == [1, 2] and res.edge_actions == [2]
    store = GraphStore(spark, str(tmp_path / "g"))
    write_method_result(store, res, "r1", "m")

    store.rollback_action("r1", 2, ["edges"])
    assert store.read("nodes").filter(F.col("class") == "Study").count() == 1
    by_stage = {c["stage"]: c["status"] for c in store.checkpoints("r1")}
    assert by_stage["m__a2_edges0"] == "rolled_back"
    assert by_stage["m__a2_nodes1"] == "done"
    assert store.stage_done("r1", "m__a2_nodes1")


def test_checkpoints_and_rollback_keep_to_their_own_run(spark, tmp_path):
    """Run ``r``'s checkpoint file names are a prefix of run
    ``r__retry``'s. ``checkpoints("r")`` returns only run r's records,
    and rolling r back leaves r__retry's checkpoint and rows alone."""
    store = GraphStore(spark, str(tmp_path / "g"))
    schema = "node_id long, class string, rdfs_label string"
    for run_id, ids in (("r", [1, 2]), ("r__retry", [3])):
        df = spark.createDataFrame([(i, "A", f"n{i}") for i in ids], schema)
        store.write_stage(df, "nodes", run_id, "nodes", partition_by=["class"])
    assert [c["run_id"] for c in store.checkpoints("r")] == ["r"]

    retry_before = store.checkpoints("r__retry")
    store.rollback_run("r", ["nodes"])
    assert store.checkpoints("r__retry") == retry_before
    own = store.checkpoints("r")
    assert [(c["run_id"], c["status"]) for c in own] == [("r", "rolled_back")]
    assert store.stage_done("r__retry", "nodes")
    assert {r["node_id"] for r in store.read("nodes").collect()} == {3}


_JOB_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran). Each call gets a fresh job
    group: a group named after ``id(fn)`` would be reused once ``fn`` is
    freed and count an earlier call's jobs too."""
    sc = spark.sparkContext
    group = f"probe_{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "GraphStore job-count probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _two_action_method(spark):
    """A derivation method whose nodes come from action 1 (Subject) and
    action 2 (Sex)."""
    from tab2neo_spark.pipeline.runner import DerivationMethod

    res = DerivationMethod(spark, {
        "name": "m",
        "actions": [
            {"type": "get_data"},
            {"type": "assign_class", "class": "Subject", "value_column": "Subject"},
            {"type": "assign_class", "class": "Sex", "value_column": "Sex"},
        ],
    }, source_df=spark.createDataFrame(
        [("S1", "M"), ("S2", "F")], "Subject string, Sex string")).apply()
    assert res.node_actions == [1, 2]
    return res


def test_fully_rolled_back_table_stays_usable(spark, tmp_path):
    """Rolling back the only run of a table deletes every file; the table
    still reads (empty) and a keyed re-write stores every row again."""
    store = GraphStore(spark, str(tmp_path / "g"))
    df = spark.createDataFrame(
        [(i, "AB"[i % 2], f"n{i}") for i in range(10)],
        "node_id long, class string, rdfs_label string",
    )

    def write():
        return store.write_stage(df, "nodes", "r1", "s", partition_by=["class"],
                                 dedup_key=["node_id"])

    write()
    store.rollback_run("r1", ["nodes"])
    assert _parquet_files(store.path("nodes")) == set()
    empty = store.read("nodes")
    assert empty.count() == 0
    assert {"node_id", "class", "rdfs_label", "run_id"} <= set(empty.columns)
    assert write()["row_count"] == 10
    assert store.read("nodes").count() == 10


def test_rollback_over_compacted_mixed_files(spark, tmp_path):
    """After compact, files hold several runs and actions: rollback
    rewrites only those mixed files, drops exactly the matching rows,
    keeps the other action's provenance and leaves an unrelated file
    byte-for-byte where it was."""
    import os
    from collections import Counter

    from tab2neo_spark.kg.materialize import write_method_result

    store = GraphStore(spark, str(tmp_path / "g"))
    schema = "node_id long, class string, rdfs_label string"

    def plain(rows, run):
        store.write_stage(spark.createDataFrame(rows, schema), "nodes", run, "plain",
                          partition_by=["class"], dedup_key=["node_id"])

    plain([(1, "Arm", "a1"), (2, "Arm", "a2"), (3, "Subject", "s0")], "r1")
    write_method_result(store, _two_action_method(spark), "r2", "m")
    plain([(4, "Sex", "x"), (5, "Visit", "v1")], "r3")
    store.compact("nodes")

    cols = ["node_id", "class", "rdfs_label", "run_id", "_action"]

    def rows(df):
        return Counter(tuple(r) for r in df.select(*cols).collect())

    before = store.read("nodes")
    expected = rows(before.filter(
        ~((F.col("run_id") == "r2") & F.coalesce(F.col("_action") == 1, F.lit(False)))
        & (F.col("run_id") != "r3")))
    (arm,) = [f for f in _parquet_files(store.path("nodes")) if "class=Arm" in f]
    arm_mtime = os.stat(arm).st_mtime_ns

    store.rollback_action("r2", 1, ["nodes"])
    store.rollback_run("r3", ["nodes"])

    after = store.read("nodes")
    assert rows(after) == expected
    r2 = after.filter(F.col("run_id") == "r2").collect()
    assert {(r["class"], r["_action"]) for r in r2} == {("Sex", 2)}
    assert os.path.exists(arm) and os.stat(arm).st_mtime_ns == arm_mtime
    assert not os.path.exists(os.path.join(store.path("nodes"), "class=Visit"))


def test_store_reads_and_uncompacted_rollbacks_run_no_job(spark, tmp_path):
    """Reads use the recorded schema (no inference job), and rolling back
    a run or an action that was not compacted only deletes files."""
    from tab2neo_spark.kg.materialize import write_method_result

    store = GraphStore(spark, str(tmp_path / "g"))
    df = spark.createDataFrame([(1, "A", "a"), (2, "B", "b")],
                               "node_id long, class string, rdfs_label string")
    store.write_stage(df, "nodes", "r0", "s", partition_by=["class"], dedup_key=["node_id"])
    write_method_result(store, _two_action_method(spark), "r1", "m")

    nodes, n = _jobs(spark, lambda: store.read("nodes"))
    assert n == 0
    assert "_action" in nodes.columns
    _, n = _jobs(spark, lambda: store.rollback_action("r1", 2, ["nodes"]))
    assert n == 0
    assert {r["class"] for r in store.read("nodes").collect()} == {"A", "B", "Subject"}
    _, n = _jobs(spark, lambda: store.rollback_run("r1", ["nodes", "edges"]))
    assert n == 0
    assert {r["class"] for r in store.read("nodes").collect()} == {"A", "B"}


def test_reads_of_a_many_file_table_run_no_listing_job(spark, tmp_path):
    """Reads list the table directory: on a table of more than 32 files in
    three partitions, ``read`` and a keyed write's anti-join scan run no
    job, and the keyed write runs as many jobs as on a table of three
    files. An explicit list of that many files would make Spark list them
    in a job."""
    rows = spark.range(96).select(
        F.col("id").alias("node_id"), F.concat(F.lit("C"), F.col("id") % 3).alias("class"),
        F.col("id").cast("string").alias("rdfs_label"))
    batch = _literal(spark, "C1", [(1, "1"), (100, "x")])
    jobs = {}
    for name, layout in (("few", rows.coalesce(1)), ("many", rows.repartition(16))):
        store = GraphStore(spark, str(tmp_path / name))
        store.write_stage(layout, "nodes", "r1", "s", partition_by=["class"])
        n_files = len(_parquet_files(store.path("nodes")))
        assert n_files > 32 if name == "many" else n_files == 3

        _, n = _jobs(spark, lambda: store.read("nodes"))
        assert n == 0
        (_, parts), n = _jobs(
            spark, lambda: store._existing_for_dedup(store.path("nodes"), batch, ["class"]))
        assert (parts, n) == (1, 0)
        payload, jobs[name] = _jobs(spark, lambda: store.write_stage(
            batch, "nodes", "r2", "s", partition_by=["class"], dedup_key=["node_id"]))
        assert payload["row_count"] == 1
        assert store.read("nodes").count() == 97
    assert jobs["many"] == jobs["few"]


def test_keyed_write_into_existing_table_runs_no_inference_job(spark, tmp_path):
    """A keyed write into an existing partitioned table runs the
    partition-value probe and the anti-join write, 4 jobs here, and no
    schema inference: inferring the existing table's schema made it 5."""
    store = GraphStore(spark, str(tmp_path / "g"))
    schema = "node_id long, class string, rdfs_label string"
    first = spark.createDataFrame([(1, "A", "a1"), (2, "B", "b1")], schema)
    store.write_stage(first, "nodes", "r1", "s1", partition_by=["class"], dedup_key=["node_id"])
    batch = spark.createDataFrame([(1, "A", "a1"), (3, "A", "a3")], schema)
    payload, n = _jobs(spark, lambda: store.write_stage(
        batch, "nodes", "r2", "s2", partition_by=["class"], dedup_key=["node_id"]))
    assert payload["row_count"] == 1
    assert n == 4, f"keyed write ran {n} jobs, expected 4"


def test_recorded_schema_is_the_union_of_writes(spark, tmp_path):
    """``_action`` joins the recorded schema when write_method_result first
    writes it: read() exposes it, NULL on the older rows, with the
    partition column last."""
    from tab2neo_spark.kg.materialize import write_method_result

    store = GraphStore(spark, str(tmp_path / "g"))
    df = spark.createDataFrame([(1, "A", "a")], "node_id long, class string, rdfs_label string")
    store.write_stage(df, "nodes", "r0", "s", partition_by=["class"], dedup_key=["node_id"])
    write_method_result(store, _two_action_method(spark), "r1", "m")

    nodes = store.read("nodes")
    assert "_action" in nodes.columns and nodes.columns[-1] == "class"
    got = {r["rdfs_label"]: r["_action"] for r in nodes.collect()}
    assert got["a"] is None
    assert got["S1"] == 1 and got["M"] == 2
    assert store.table_partitioning("nodes") == ["class"]
    # the log, replayed by a fresh GraphStore, records the same schema
    assert GraphStore(spark, store.root).read("nodes").columns == nodes.columns


# -- keyed writes: partition values from plan constraints ---------------------


def _orders_model():
    """Order/Customer/Priority columns of an OrderRow table, with the two
    schema relationships between them."""
    from tab2neo_spark.model.metadata import MetadataModel

    m = MetadataModel()
    m.create_related_classes_from_list(
        [["OrderRow", c, c] for c in ("Order", "Customer", "Priority")])
    m.create_relationship("Order", "Customer", "PLACED_BY")
    m.create_relationship("Order", "Priority", "HAS_PRIORITY")
    return m


def _order_rows(lo, hi):
    return [(f"O{i}", f"C{i % 3}", ["1-URGENT", "2-HIGH", None][i % 3])
            for i in range(lo, hi)]


def _orders_store(spark, tmp_path):
    """(store, model, upsert) with rows 0-5 stored by refactor_all;
    ``upsert(rows, run)`` writes a parquet batch's refactored nodes and
    edges and returns ((payload, jobs) for nodes, (payload, jobs) for
    edges)."""
    from tab2neo_spark.kg.refactor import RefactorEngine

    model = _orders_model()
    store = GraphStore(spark, str(tmp_path / "g"))

    def upsert(rows, run):
        src = str(tmp_path / f"src_{run}")
        spark.createDataFrame(
            rows, "Order string, Customer string, Priority string").write.parquet(src)
        res = RefactorEngine(spark, model).refactor_all(spark.read.parquet(src), "OrderRow")
        return tuple(
            _jobs(spark, lambda df=df, t=t: store.write_stage(
                df, t, run, f"tab_{t}", partition_by=parts, dedup_key=key))
            for t, df, parts, key in (
                ("nodes", res.nodes, ["class"], ["node_id"]),
                ("edges", res.edges, ["rel_type"], ["src", "rel_type", "dst"]))
        )

    upsert(_order_rows(0, 6), "base")
    return store, model, upsert


def _method(spark, store, model, actions):
    from tab2neo_spark.pipeline.runner import DerivationMethod
    from tab2neo_spark.provider import DataProvider

    provider = DataProvider(spark, model, store.read("nodes"), store.read("edges"))
    return DerivationMethod(spark, {"name": "m", "actions": actions},
                            provider=provider).apply()


def test_refactor_upsert_and_method_write_skip_the_partition_probe(spark, tmp_path):
    """Keyed writes into an existing partitioned store take their partition
    values from the batch's plan constraints, so they run no probe job:
    a refactor_all nodes upsert 3 jobs and its edges upsert 3 (6 and 5
    with the probe), and write_method_result of get_data -> assign_class
    -> link 10 jobs (18 with the probe)."""
    from tab2neo_spark.kg.materialize import write_method_result

    store, model, upsert = _orders_store(spark, tmp_path)
    (nodes, n_nodes), (edges, n_edges) = upsert(_order_rows(3, 9), "r1")
    assert (nodes["row_count"], edges["row_count"]) == (3, 16)
    # Order/Customer/Priority; FROM_DATA/PLACED_BY/HAS_PRIORITY/IS_A
    assert (nodes["dedup_scan_partitions"], edges["dedup_scan_partitions"]) == (3, 4)
    assert (n_nodes, n_edges) == (3, 3)

    res = _method(spark, store, model, [
        {"type": "get_data", "labels": ["Order", "Priority"], "include_ids": True,
         "rels": [{"from": "Order", "to": "Priority", "type": "HAS_PRIORITY"}]},
        {"type": "assign_class", "class": "Urgency", "value_column": "Priority"},
        {"type": "link", "relationship_type": "HAS_URGENCY",
         "from_id": "_id_Order", "to_id": "_id_Urgency"},
    ])
    written, n = _jobs(spark, lambda: write_method_result(store, res, "r1", "m"))
    assert {k: v["row_count"] for k, v in written.items()} == {
        "m__a1_nodes0": 2, "m__a2_edges0": 6}
    assert {v["dedup_scan_partitions"] for v in written.values()} == {1}
    assert n == 10


def test_literal_link_node_skips_the_partition_probe(spark, tmp_path):
    """A ``to_value`` link's merged node states its class as a literal, so
    writing the method's result runs 5 jobs (9 when the class was read
    from a one-row frame and probed), with the same rows."""
    from tab2neo_spark.kg.materialize import write_method_result

    store, model, _ = _orders_store(spark, tmp_path)
    res = _method(spark, store, model, [
        {"type": "get_data", "labels": ["Order"], "include_ids": True},
        {"type": "link", "relationship_type": "FLAGGED", "from_id": "_id_Order",
         "to_class": "Flag", "to_value": "yes"},
    ])
    written, n = _jobs(spark, lambda: write_method_result(store, res, "r1", "flag"))
    assert n == 5
    assert {v["dedup_scan_partitions"] for v in written.values()} == {1}

    (flag,) = spark.range(1).select(
        F.xxhash64(F.lit("Flag"), F.lit("yes")).alias("id")).first()
    nodes = store.read("nodes").filter(F.col("run_id") == "r1")
    assert [(r["node_id"], r["class"], r["rdfs_label"], r["_action"])
            for r in nodes.collect()] == [(flag, "Flag", "yes", 1)]
    orders = {r["node_id"] for r in store.read("nodes")
              .filter(F.col("class") == "Order").collect()}
    edges = store.read("edges").filter(F.col("run_id") == "r1")
    assert sorted((r["src"], r["rel_type"], r["dst"]) for r in edges.collect()) == \
        sorted((o, "FLAGGED", flag) for o in orders)


_NODE_SCHEMA = "node_id long, class string, rdfs_label string"


def _literal(spark, cls, rows):
    return spark.createDataFrame(rows, "node_id long, rdfs_label string").select(
        "node_id", F.lit(cls).alias("class"), "rdfs_label")


_ROUTE_CASES = {
    # name: (batch builder, bounded by its constraints?)
    "literal_class": (lambda s: _literal(s, "A", [(1, "a1"), (4, "a4")]), True),
    "isin_superset": (lambda s: s.createDataFrame(
        [(1, "A", "a1"), (4, "A", "a4"), (2, "B", "b1"), (6, "B", "b6")], _NODE_SCHEMA)
        .filter(F.col("class").isin("A", "B", "Z")), True),
    "union_of_literals": (lambda s: _literal(s, "A", [(1, "a1"), (4, "a4")])
                          .unionByName(_literal(s, "B", [(2, "b1"), (6, "b6")])), False),
    "null_literal": (lambda s: s.createDataFrame(
        [(5, "n1"), (7, "n7")], "node_id long, rdfs_label string").select(
        "node_id", F.lit(None).cast("string").alias("class"), "rdfs_label"), False),
    "int_partition": (lambda s: s.createDataFrame(
        [(1, "a1"), (9, "a9")], "node_id long, rdfs_label string").select(
        "node_id", "rdfs_label", F.lit(3).alias("class")), False),
    "propagation_off": (lambda s: _literal(s, "A", [(1, "a1"), (4, "a4")]), False),
}


@pytest.mark.parametrize("case", sorted(_ROUTE_CASES))
def test_constraint_route_equals_probe_route(spark, tmp_path, case):
    """A batch whose constraints bound its partition values stores the same
    rows as the same rows from createDataFrame (no constraints: the probe
    route). Unions, NULL literals, non-string partition columns and a
    session without constraint propagation fall back to the probe."""
    from collections import Counter

    from tab2neo_spark.kg.materialize import _constrained_values

    build, bounded = _ROUTE_CASES[case]
    int_parts = case == "int_partition"
    seed = spark.createDataFrame(
        [(1, 3, "a1"), (2, 4, "b1")] if int_parts
        else [(1, "A", "a1"), (2, "B", "b1"), (3, "C", "c1"), (5, None, "n1")],
        "node_id long, class int, rdfs_label string" if int_parts else _NODE_SCHEMA)
    conf = "spark.sql.constraintPropagation.enabled"
    if case == "propagation_off":
        spark.conf.set(conf, "false")
    try:
        batch = build(spark)
        twin = spark.createDataFrame(batch.collect(), batch.schema)
        assert (_constrained_values(batch, ["class"]) is not None) == bounded
        assert _constrained_values(twin, ["class"]) is None
        stored = []
        for name, df in (("constraint", batch), ("probe", twin)):
            store = GraphStore(spark, str(tmp_path / name))
            for run, rows in (("r1", seed), ("r2", df)):
                store.write_stage(rows, "nodes", run, "s", partition_by=["class"],
                                  dedup_key=["node_id"])
            cols = sorted(store.read("nodes").columns)
            stored.append(Counter(tuple(r) for r in store.read("nodes").select(*cols).collect()))
    finally:
        spark.conf.unset(conf)
    assert stored[0] == stored[1]
    assert sum(n for r, n in stored[0].items() if "r2" in r) > 0


def test_constraint_route_prunes_the_scan_with_no_job(spark, tmp_path):
    """On the constraint route the anti-join's existing-side scan carries
    PartitionFilters on the proven values, no job runs to find them, and
    dedup_scan_partitions counts the values the predicate names."""
    store = GraphStore(spark, str(tmp_path / "g"))
    store.write_stage(
        spark.createDataFrame([(1, "A", "a1"), (2, "B", "b1"), (3, "C", "c1")], _NODE_SCHEMA),
        "nodes", "r1", "s1", partition_by=["class"], dedup_key=["node_id"])

    batch = _literal(spark, "A", [(1, "a1"), (4, "a4")])
    (existing, n), jobs = _jobs(
        spark, lambda: store._existing_for_dedup(store.path("nodes"), batch, ["class"]))
    assert (n, jobs) == (1, 0)
    plan = existing._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "class" in plan.split("PartitionFilters")[1][:120]
    assert {r["class"] for r in existing.collect()} == {"A"}
    payload = store.write_stage(batch, "nodes", "r2", "s2", partition_by=["class"],
                                dedup_key=["node_id"])
    assert (payload["dedup_scan_partitions"], payload["row_count"]) == (1, 1)

    # a proven superset: three values named, B's row is a duplicate
    superset = spark.createDataFrame([(2, "B", "b1"), (5, "B", "b5")], _NODE_SCHEMA) \
        .filter(F.col("class").isin("A", "B", "Z"))
    payload = store.write_stage(superset, "nodes", "r3", "s3", partition_by=["class"],
                                dedup_key=["node_id"])
    assert (payload["dedup_scan_partitions"], payload["row_count"]) == (3, 1)


def test_partition_value_cap_holds_on_both_routes(spark, tmp_path):
    """More than 256 partition values read the whole table on the probe
    route; a constraint naming more than 256 values falls back to the
    probe, which finds the batch's own few."""
    store = GraphStore(spark, str(tmp_path / "g"))
    store.write_stage(spark.createDataFrame([(1, "A", "a1")], _NODE_SCHEMA), "nodes", "r1",
                      "s1", partition_by=["class"], dedup_key=["node_id"])
    wide = spark.createDataFrame([(i, f"K{i}", "x") for i in range(300)], _NODE_SCHEMA)
    _, n = store._existing_for_dedup(store.path("nodes"), wide, ["class"])
    assert n is None
    many = [f"K{i}" for i in range(300)] + ["A"]
    loose = spark.createDataFrame([(1, "A", "a1"), (2, "K7", "k")], _NODE_SCHEMA) \
        .filter(F.col("class").isin(many))
    _, n = store._existing_for_dedup(store.path("nodes"), loose, ["class"])
    assert n == 2


# -- crash safety: a killed process, then a reopened store --------------------


_KILL_CASES = ("mid_write", "before_commit", "mid_rollback", "mid_compact")


def _kill_batch(spark):
    return spark.createDataFrame([(10, "A", "a10"), (11, "B", "b11"), (12, None, "n12")],
                                 _NODE_SCHEMA)


def _kill_setup(spark, root):
    """The store every kill case starts from: run r1's nodes; run r2's
    method result (nodes from actions 1 and 2, an edge from action 2);
    nodes compacted, so files mix r1 and r2; then run r3's nodes."""
    from tab2neo_spark.kg.materialize import write_method_result
    from tab2neo_spark.pipeline.runner import MethodResult

    store = GraphStore(spark, root)

    def nodes(rows):
        return spark.createDataFrame(rows, _NODE_SCHEMA)

    store.write_stage(nodes([(i, "AB"[i % 2], f"n{i}") for i in range(6)]), "nodes", "r1",
                      "s", partition_by=["class"], dedup_key=["node_id"])
    write_method_result(store, MethodResult(
        df=None, new_nodes=[nodes([(20, "A", "m20"), (21, "C", "m21")]), nodes([(22, "B", "m22")])],
        node_actions=[1, 2],
        new_edges=[spark.createDataFrame([(20, "R", 22)], "src long, rel_type string, dst long")],
        edge_actions=[2]), "r2", "m")
    store.compact("nodes")
    store.write_stage(nodes([(7, "B", "n7"), (30, "D", "n30")]), "nodes", "r3", "s",
                      partition_by=["class"], dedup_key=["node_id"])
    return store


def _kill_call(case, store, batch):
    """The call each case is killed in; re-running it is the resume."""
    if case in ("mid_write", "before_commit"):
        store.write_stage(batch, "nodes", "r4", "s", partition_by=["class"],
                          dedup_key=["node_id"])
    elif case == "mid_rollback":
        store.rollback_run("r2", ["nodes", "edges"])
    else:
        store.compact("nodes")


def _killed_child(case, root):
    """Run in a subprocess of its own process group: make ``case``'s call on
    the store at ``root`` and SIGKILL the group (driver, JVM) at the case's
    kill point."""
    import signal

    from pyspark.sql.functions import udf

    from tab2neo_spark.session import get_spark

    group = os.getpgrp()

    def die(*_a, **_k):
        os.killpg(group, signal.SIGKILL)

    spark = get_spark(app_name="graphstore_kill", cores=1, shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g"})
    store = GraphStore(spark, root)
    batch = _kill_batch(spark)
    if case == "mid_write":  # inside the write job, from its Python worker
        def label(s):
            if s == "n12":
                die()
                os.killpg(0, signal.SIGKILL)  # the worker's own group
            return s

        batch = batch.withColumn("rdfs_label", udf(label)("rdfs_label"))
    elif case == "before_commit":  # the files are staged, no version claimed
        GraphStore._commit = die
    elif case == "mid_rollback":  # after the commit, among the deletes
        remove, removed = os.remove, []

        def remove_once(f):
            if f.endswith(".parquet") and removed:
                die()
            removed.append(f)
            remove(f)

        os.remove = remove_once
    else:  # compaction's new files are in, its originals not yet deleted
        GraphStore._delete_files = die
    _kill_call(case, store, batch)
    raise AssertionError(f"{case}: the kill point was never reached")


def _table_rows(store, table):
    df = store.read(table)
    return Counter(tuple(r) for r in df.select(*sorted(df.columns)).collect())


@pytest.mark.parametrize("case", _KILL_CASES)
def test_killed_call_recovers_on_open(spark, tmp_path, case):
    """A process SIGKILLed inside a write, a rollback or a compaction
    leaves a store that, reopened and resumed (the same call again), holds
    row for row what a never-killed run holds, with no duplicate key. A
    kill after the commit needs no resume: opening the store finishes it."""
    import subprocess
    import signal
    import sys

    ref = _kill_setup(spark, str(tmp_path / "ref"))
    _kill_call(case, ref, _kill_batch(spark))
    root = str(tmp_path / "g")
    _kill_setup(spark, root)
    here = os.path.dirname(os.path.abspath(__file__))
    child = subprocess.run(
        [sys.executable, "-c",
         f"import sys; sys.path[:0] = [{os.path.dirname(here)!r}, {here!r}]; "
         f"import test_materialize as t; t._killed_child({case!r}, {root!r})"],
        start_new_session=True, capture_output=True, timeout=600)
    assert child.returncode == -signal.SIGKILL, child.stderr.decode()[-3000:]

    store = GraphStore(spark, root)
    if case in ("mid_rollback", "mid_compact"):
        assert all(_table_rows(store, t) == _table_rows(ref, t) for t in ("nodes", "edges"))
    _kill_call(case, store, _kill_batch(spark))
    assert not os.path.exists(os.path.join(root, "_staging"))
    for table, key in (("nodes", ["node_id"]), ("edges", ["src", "rel_type", "dst"])):
        assert _table_rows(store, table) == _table_rows(ref, table)
        keys = Counter(tuple(r) for r in store.read(table).select(*key).collect())
        assert set(keys.values()) <= {1}
