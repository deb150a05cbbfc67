"""Graph materialization: partitioned tables, one commit log, idempotent resume.

Replaces the reference's Cypher MERGE ingestion and its ``Changes`` audit
nodes (derivation_method/action.py:156-175; rollback
derivation_method.py:596-671).  The north rule requires: every stage
writes per-partition lineage + row-count metrics so runs resume
idempotently at 10^12-document scale.

Design:

- **Tables**: ``nodes`` partitioned by ``class``, ``edges`` by
  ``rel_type``, ``triples`` by ``pred`` — partition pruning serves the
  readback layer's class/rel filters directly (``_LAYOUT`` states each
  table's partition columns and dedup key once). Plain parquet only; an
  Iceberg deployment would replace the anti-join with MERGE INTO and the
  log with its snapshots.
- **Idempotency**: all ids are deterministic content hashes, so re-writing
  the same input produces byte-identical rows; dedup-on-write
  (anti-join against the existing table) replaces transactional MERGE.
  The anti-join reads only the partitions the batch can touch, taken from
  the batch's plan constraints where they bound them (no job).
- **Commit log**: the store's state is ONE append-only log,
  ``<root>/_log/<version>.json``, as in Delta Lake. A version holds
  ``add``/``remove`` file actions (an added file with its table, rows,
  bytes and the ``(run, stage, _action)`` tags of the writes whose rows it
  holds), the partitioning and schema of the tables it changes (the union
  of every column ever written, partition columns last), and the stage
  records it adds or rolls back. Every call — a stage write, a rollback
  over several tables, a compaction — is one version, claimed whole
  (temp file, then ``os.link``), so it lands entirely or not at all.
- **Files**: new files are written to ``<root>/_staging`` and moved into
  their table after the commit; removed files are deleted after it. So
  whenever a call has returned, a table directory holds exactly its live
  files, and reads list the directory under the recorded schema (no
  inference job, and no listing job, which an explicit list of more than
  32 files would run). Opening a store finishes the last commit, drops
  the staging area and deletes table files no version references: a
  process killed anywhere leaves the store as of its last commit.
- **Rollback/compaction**: every row carries ``run_id`` (and ``_action``
  when written by :func:`write_method_result`). Rollback deletes the
  files whose tags all match, keeps those no tag matches, and rewrites
  only the mixed ones, which :meth:`GraphStore.compact` makes (a merged
  file carries the tags of every file it merged). Mixed files and
  compaction go through ONE rewrite (:meth:`GraphStore._rewrite`).
- **Single writer**: one process, through one ``GraphStore``, mutates a
  store at a time; a second writer fails to claim a version.
"""

from __future__ import annotations

import json
import math
import operator
import os
import shutil
import time
from contextlib import suppress
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# table -> (partition columns, dedup key). Every dedup key determines its
# partition columns, which _existing_for_dedup's pruning relies on.
_LAYOUT = {
    "nodes": (["class"], ["node_id"]),
    "edges": (["rel_type"], ["src", "rel_type", "dst"]),
    "triples": (["pred"], ["subj", "pred", "obj"]),
    "labels": (["extra_label"], ["node_id", "extra_label"]),
}


def _constrained_values(df: DataFrame, cols: list[str]) -> dict[str, set[str]] | None:
    """{column: the values ``df``'s optimized-plan constraints allow it},
    read on the driver with no job, or None unless every one of ``cols``
    is bounded.

    Only ``=``, ``<=>``, ``IN`` and ``INSET`` between a column of plain
    ``string`` type and non-NULL literals bound it (a collated string's
    ``=`` admits values other than the literal); several constraints on
    one column intersect. Constraints follow from the plan's filters and
    literal projections (``F.lit(c).alias("class")``), so the result is a
    superset of the values the rows hold."""
    plan = df._jdf.queryExecution().optimizedPlan()
    output = plan.output()
    attrs = {}
    for i in range(output.size()):
        a = output.apply(i)
        if a.name() in cols and a.dataType().typeName() == "string":
            attrs[a.exprId().id()] = a.name()

    def kind(e) -> str:
        return e.getClass().getSimpleName()

    def column(e) -> str | None:
        return attrs.get(e.exprId().id()) if kind(e) == "AttributeReference" else None

    def literals(es) -> set[str] | None:
        if any(kind(e) != "Literal" or e.value() is None for e in es):
            return None
        return {str(e.value()) for e in es}

    bounds: dict[str, set[str]] = {}
    it = plan.constraints().iterator()
    while it.hasNext():
        c = it.next()
        k = kind(c)
        col = vals = None
        if k in ("EqualTo", "EqualNullSafe"):
            for a, b in ((c.left(), c.right()), (c.right(), c.left())):
                if column(a) is not None:
                    col, vals = column(a), literals([b])
                    break
        elif k == "In":
            col = column(c.value())
            lst = c.list()
            vals = literals([lst.apply(i) for i in range(lst.size())])
        elif k == "InSet":
            col = column(c.child())
            h = c.hset().iterator()
            vals = set()
            while h.hasNext():
                v = h.next()
                if v is None:
                    vals = None
                    break
                vals.add(str(v))
        if col is not None and vals is not None:
            bounds[col] = bounds[col] & vals if col in bounds else vals
    if set(bounds) != set(cols):
        return None
    return bounds


class GraphStore:
    """Filesystem-rooted node/edge/triple store with one commit log."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        # new files wait here, one directory per table, for their commit
        self._staging = f"{self.root}/_staging"
        os.makedirs(f"{self.root}/_log", exist_ok=True)
        # the replayed log: table -> layout, table -> {path: add action},
        # (run_id, stage) -> (version, record)
        self._tables: dict[str, dict] = {}
        self._files: dict[str, dict[str, dict]] = {}
        self._stages: dict[tuple[str, str], tuple[int, dict]] = {}
        self._version = -1
        last = {}
        while os.path.exists(self._log_file(self._version + 1)):
            with open(self._log_file(self._version + 1)) as f:
                last = json.load(f)
            self._apply(last)
        self._recover(last)

    # -- paths ---------------------------------------------------------------

    def path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def _log_file(self, version: int) -> str:
        return f"{self.root}/_log/{version:020d}.json"

    # -- the log ---------------------------------------------------------------

    def _apply(self, commit: dict) -> None:
        """Replay one version into the in-memory state."""
        self._version += 1
        self._tables.update(commit.get("tables", {}))
        for a in commit.get("remove", []):
            del self._files[a["table"]][a["path"]]
        for a in commit.get("add", []):
            self._files.setdefault(a["table"], {})[a["path"]] = a
        for rec in commit.get("stages", []):
            self._stages[(rec["run_id"], rec["stage"])] = (self._version, rec)
        for run_id, stage in commit.get("rolled_back", []):
            v, rec = self._stages[(run_id, stage)]
            self._stages[(run_id, stage)] = (v, {**rec, "status": "rolled_back"})

    def _commit(self, commit: dict) -> None:
        """Claim the next version for ``commit``, then make the table
        directories match it. The version is written to a temp file and
        hard-linked into place, so it appears whole or not at all, and a
        version another writer took fails the link."""
        version = self._version + 1
        tmp = f"{self.root}/_log/.{version}.json.tmp"
        with open(tmp, "w") as f:
            json.dump(commit, f)
        try:
            os.link(tmp, self._log_file(version))
        except FileExistsError:
            raise RuntimeError(
                f"log version {version} of {self.root!r} was committed by another "
                "writer; a store takes one writer at a time"
            ) from None
        finally:
            os.remove(tmp)
        self._apply(commit)
        self._finish(commit)

    def _finish(self, commit: dict) -> None:
        """Move a commit's staged files into their tables, then delete the
        files it removed and drop the staging area. Every step can be
        repeated, so recovery re-runs it after a kill."""
        for t in commit.get("tables", {}):
            os.makedirs(self.path(t), exist_ok=True)
        for a in commit.get("add", []):
            src = f"{self._staging}/{a['table']}/{a['path']}"
            dst = f"{self.path(a['table'])}/{a['path']}"
            if os.path.exists(src):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(src, dst)
                with suppress(FileNotFoundError):
                    os.replace(self._crc(src), self._crc(dst))
        for a in commit.get("remove", []):
            self._delete_files(a["table"], [f"{self.path(a['table'])}/{a['path']}"])
        shutil.rmtree(self._staging, ignore_errors=True)

    def _recover(self, last: dict) -> None:
        """Finish the last commit (a kill may have stopped it half way), drop
        what was staged for a commit that never happened, and delete table
        files no version references."""
        self._finish(last)
        for table in self._tables:
            live, root = self._files.get(table, {}), self.path(table)
            stray = []
            for dirpath, _, names in os.walk(root):
                for name in names:
                    rel = os.path.relpath(os.path.join(dirpath, name), root)
                    owner = rel
                    if name.startswith(".") and name.endswith(".crc"):
                        owner = os.path.join(os.path.dirname(rel), name[1:-4])
                    if owner not in live:
                        stray.append(os.path.join(root, rel))
            self._delete_files(table, stray)

    def _staged(self, table: str) -> dict[str, tuple[int, int]]:
        """{path in the table: (rows, bytes)} of the files staged for
        ``table``, rows from the parquet footers (no data scan). Empty
        files are left out: they are never moved in."""
        root, out = f"{self._staging}/{table}", {}
        for dirpath, _, names in os.walk(root):
            for name in names:
                f = os.path.join(dirpath, name)
                if name.endswith(".parquet") and (rows := pq.read_metadata(f).num_rows):
                    out[os.path.relpath(f, root)] = (rows, os.path.getsize(f))
        return out

    # -- checkpoint / lineage --------------------------------------------------

    def stage_done(self, run_id: str, stage: str) -> bool:
        _, rec = self._stages.get((run_id, stage), (None, {}))
        return rec.get("status") == "done"

    def checkpoints(self, run_id: str | None = None) -> list[dict]:
        """Stage records in commit order, all of them or only ``run_id``'s."""
        return [dict(rec) for (run, _), (_, rec) in self._stages.items()
                if run_id is None or run == run_id]

    # -- writes ----------------------------------------------------------------

    def write_stage(
        self,
        df: DataFrame,
        table: str,
        run_id: str,
        stage: str,
        partition_by: list[str] | None = None,
        dedup_key: list[str] | None = None,
    ) -> dict:
        """Write one stage's output with lineage as one commit; skip if
        already done.

        Returns the stage record. ``dedup_key`` turns the append into
        an idempotent keyed upsert (left-anti against existing keys — the
        MERGE INTO analog without Iceberg).
        """
        if self.stage_done(run_id, stage):
            return dict(self._stages[(run_id, stage)][1])

        t0 = time.time()
        out = df.withColumn("run_id", F.lit(run_id))
        layout = self._widened(table, partition_by or [], out.schema)
        n_pruned: int | None = None

        if dedup_key and table in self._tables:
            existing, n_pruned = self._existing_for_dedup(self.path(table), out, partition_by)
            # no distinct() on the existing keys: an anti-join's result does
            # not depend on duplicates on its right side
            out = out.join(existing.select(*dedup_key), dedup_key, "left_anti")

        # lineage WITHOUT a second pass: the row count (and the ``_action``
        # values a rollback matches files by) ride on the write itself via
        # df.observe (one job, one scan — a pre-write
        # groupBy().count().collect() would execute the full stage DAG
        # twice, doubling the most expensive jobs at scale), and the
        # per-file histogram comes from the written parquet FOOTERS
        # (metadata-only — Iceberg deployments read the same numbers from
        # snapshot manifests)
        obs = Observation(f"{run_id}__{stage}")
        metrics = [F.count(F.lit(1)).alias("row_count")]
        if "_action" in out.columns:
            metrics += [F.min("_action").alias("lo"), F.max("_action").alias("hi"),
                        F.count("_action").alias("acted")]
        out = out.observe(obs, *metrics)

        writer = out.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(f"{self._staging}/{table}")

        m = obs.get
        row_count = m["row_count"]
        # the rows' one action, None when no row has one, "*" when several
        action = None
        if m.get("acted"):
            action = m["lo"] if m["lo"] == m["hi"] and m["acted"] == row_count else "*"
        staged = self._staged(table)
        payload = {
            "run_id": run_id,
            "stage": stage,
            "table": table,
            "row_count": row_count,
            "partitions": {f"{table}/{p}": rows for p, (rows, _) in staged.items()},
            "dedup_scan_partitions": n_pruned,
            "wall_s": round(time.time() - t0, 3),
            "status": "done",
            "ts": time.time(),
        }
        tags = [[run_id, stage, action]]
        self._commit({
            "tables": {table: layout} if layout != self._tables.get(table) else {},
            "add": [{"table": table, "path": p, "rows": rows, "bytes": size, "tags": tags}
                    for p, (rows, size) in staged.items()],
            "stages": [payload],
        })
        return dict(payload)

    def _existing_for_dedup(
        self, path: str, batch, partition_by: list[str] | None
    ) -> tuple[DataFrame, int | None]:
        """Existing-table read for the keyed upsert's anti-join, PRUNED to
        the partitions the incoming batch touches. Without this, every
        incremental write re-reads the whole target table — a full-table
        scan per append at 100 TB. The predicate reaches the parquet scan
        as PartitionFilters.

        The partition values come from the batch's plan constraints
        (:func:`_constrained_values`, no job) when they bound every
        partition column: a superset of the values the batch holds, which
        prunes just as correctly. Otherwise they are discovered by one
        extra job over the batch projected to the partition columns
        (low-cardinality by design: class/rel_type/pred).

        CONTRACT: valid because every dedup key determines its partition
        columns (node_id = xxhash64(class, key) embeds class; edge and
        triple keys contain rel_type/pred outright) — a duplicate key can
        only ever live in a partition the batch also touches.

        Returns (dataframe, number of partition values the predicate
        names | None if unpartitioned/unprunable)."""
        existing = self._scan(os.path.relpath(path, self.root))
        parts = [p for p in (partition_by or []) if p in batch.columns]
        if not parts:
            return existing, None
        # cap the predicate size: partition columns are low-cardinality by
        # design (class/rel_type/pred); if a caller partitions on a
        # high-cardinality key, a thousands-branch OR would bloat the plan
        # for little pruning benefit — fall back to the full read
        limit = 256
        bounds = _constrained_values(batch, parts)
        if bounds is not None:
            n = math.prod(len(v) for v in bounds.values())
            if n <= limit:
                pred = [F.col(p).isin(sorted(v)) for p, v in bounds.items()]
                return existing.filter(reduce(operator.and_, pred)), n
        values = batch.select(*parts).distinct().limit(limit + 1).collect()
        if len(values) > limit:
            return existing, None
        pred = None
        for row in values:
            conj = None
            for p in parts:
                eq = F.col(p).eqNullSafe(F.lit(row[p]))
                conj = eq if conj is None else conj & eq
            pred = conj if pred is None else pred | conj
        if pred is None:  # empty batch: nothing can collide
            return existing.filter(F.lit(False)), 0
        return existing.filter(pred), len(values)

    def read(self, table: str, as_of_run: str | None = None) -> DataFrame:
        """Read a table, optionally AS OF a run — the Iceberg time-travel
        analog over the log: the visible rows are those of surviving runs
        whose last commit on this table is at or before ``as_of_run``'s
        last commit, in log order. The visible-run set is metadata-scale,
        so it renders as an ``isin`` literal the scan filters on.

        Divergence from real Iceberg (documented): a table directory holds
        only live files, so a ROLLED-BACK run's rows are gone and time
        travel sees append history only; Iceberg's snapshot manifests keep
        the removed files readable."""
        df = self._scan(table)
        if as_of_run is None:
            return df
        last: dict[str, int] = {}
        for (run, _), (version, rec) in self._stages.items():
            if rec.get("table") == table and rec["status"] == "done":
                last[run] = max(last.get(run, -1), version)
        if as_of_run not in last:
            raise ValueError(
                f"run {as_of_run!r} has no surviving commit on table {table!r}"
            )
        visible = sorted(r for r, v in last.items() if v <= last[as_of_run])
        return df.filter(F.col("run_id").isin(visible))

    # -- table layout (partitioning + recorded schema) -------------------------

    def table_partitioning(self, table: str) -> list[str]:
        return self._tables.get(table, {}).get("partition_by", [])

    def _widened(self, table: str, partition_by: list[str], schema: StructType) -> dict:
        """``table``'s layout with ``schema``'s new columns added, on the
        driver (no job). The first write's ``partition_by`` is the table's;
        partition columns stay last, where a partitioned read puts them."""
        old = self._tables.get(table, {"partition_by": partition_by, "schema": {"fields": []}})
        fields = {f.name: f for f in StructType.fromJson(old["schema"]).fields}
        for f in schema.fields:
            fields.setdefault(f.name, f)
        parts = old["partition_by"]
        merged = StructType(
            [f for name, f in fields.items() if name not in parts]
            + [fields[p] for p in parts if p in fields]
        )
        return {"partition_by": parts, "schema": merged.jsonValue()}

    def _scan(self, table: str, files=None) -> DataFrame:
        """The one read of a stored table, under its recorded schema (no
        inference job). ``files`` restricts it to those parquet files;
        ``basePath`` keeps their partition values."""
        if table not in self._tables:
            raise ValueError(f"store {self.root!r} has no table {table!r}")
        reader = self.spark.read.schema(StructType.fromJson(self._tables[table]["schema"]))
        if files is None:
            return reader.parquet(self.path(table))
        return reader.option("basePath", self.path(table)).parquet(*sorted(files))

    # -- file-level rewrite and delete (rollback, compaction) -----------------

    @staticmethod
    def _crc(f: str) -> str:
        """The local filesystem's checksum sidecar of file ``f``."""
        d, name = os.path.split(f)
        return os.path.join(d, f".{name}.crc")

    def _delete_files(self, table: str, files) -> None:
        """Delete ``files`` with their checksum sidecars, then every
        partition directory this leaves empty (never the table's own)."""
        root = self.path(table)
        for f in files:
            for g in (f, self._crc(f)):
                with suppress(FileNotFoundError):
                    os.remove(g)
            d = os.path.dirname(f)
            while len(d) > len(root) and os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)
                d = os.path.dirname(d)

    def _rewrite(self, table: str, paths, transform, dropped=lambda tag: False) -> list[dict]:
        """The one rewrite of stored files: ``transform`` the rows of the
        table's files ``paths`` and stage them with the table's recorded
        partitioning, for the next commit. Returns the staged files' add
        actions. A new file takes the tags of the files it was rewritten
        from in its partition directory, less the ``dropped`` ones (tags
        whose rows ``transform`` removes)."""
        files = [f"{self.path(table)}/{p}" for p in paths]
        writer = transform(self._scan(table, files)).write.mode("overwrite")
        parts = self.table_partitioning(table)
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(f"{self._staging}/{table}")
        tags: dict[str, dict] = {}
        for p in paths:
            for tag in self._files[table][p]["tags"]:
                if not dropped(tag):
                    tags.setdefault(os.path.dirname(p), {})[json.dumps(tag)] = tag
        return [{"table": table, "path": p, "rows": rows, "bytes": size,
                 "tags": list(tags.get(os.path.dirname(p), {}).values())}
                for p, (rows, size) in self._staged(table).items()]

    # -- rollback ----------------------------------------------------------------

    def rollback_run(self, run_id: str, tables: list[str]) -> None:
        """Delete a run's rows from each table and mark its stage records
        rolled back, in one commit. Files holding only the run's rows are
        deleted, files holding none are left alone, and only mixed files
        (after :meth:`compact`) are rewritten — so rolling back a run that
        was not compacted since runs no Spark job."""
        self._rollback(run_id, tables)

    def rollback_action(self, run_id: str, action_idx: int, tables: list[str]) -> None:
        """Per-action rollback (the reference's Changes-node inverse,
        action.py:1699-1749 / derivation_method.py:596-671): revert ONE
        action's writes while keeping the rest of the run. Rows written via
        :func:`write_method_result` carry ``_action``; rows match on
        (run_id, _action), file by file as in :meth:`rollback_run`. Rows
        without an ``_action`` are never dropped."""
        self._rollback(run_id, tables, action_idx)

    def _rollback(
        self, run_id: str, tables: list[str], action_idx: int | None = None
    ) -> None:
        match = {"run_id": run_id}
        if action_idx is not None:
            match["_action"] = action_idx
        # NULL-safe drop predicate: a NULL run_id or _action (rows from
        # writers other than write_method_result) must never turn the
        # keep-predicate NULL, which filter() would treat as a drop
        drop = F.lit(True)
        for col, value in match.items():
            drop = drop & F.coalesce(F.col(col) == value, F.lit(False))

        def verdict(tag) -> str:
            """Whether a tag's rows all match, none do, or some may."""
            run, _, action = tag
            if run != run_id:
                return "none"
            if action_idx is None or action == action_idx:
                return "all"
            return "some" if action == "*" else "none"

        add, remove, changed = [], [], set()
        for t in dict.fromkeys(tables):  # a table named twice is removed from once
            mixed = []
            for p, f in self._files.get(t, {}).items():
                seen = {verdict(tag) for tag in f["tags"]}
                if seen != {"none"}:
                    remove.append({"table": t, "path": p})
                    changed.add(t)
                    if seen != {"all"}:
                        mixed.append(p)
            if mixed:
                add += self._rewrite(t, mixed, lambda df: df.filter(~drop),
                                     lambda tag: verdict(tag) == "all")
        # only the stages of the CHANGED tables roll back: a partial
        # rollback must keep the other tables' commits visible to
        # read(as_of_run=...)
        marker = "" if action_idx is None else f"__a{action_idx}_"
        flips = [[run_id, s] for (r, s), (_, rec) in self._stages.items()
                 if r == run_id and rec.get("table") in changed and marker in s]
        if changed:
            self._commit({"add": add, "remove": remove, "rolled_back": flips})

    # -- compaction (small-file hygiene) ---------------------------------------

    def compact(self, table: str, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Rewrite a table's accumulated small files into ~``target_file_
        bytes`` files, as one commit (VERDICT r4, Next round #10): repeated
        append runs and rollback rewrites each leave their own file set,
        and at scale the per-file open/footer cost comes to dominate scans.
        The rewrite PRESERVES the table's recorded partitioning — losing it
        would silently kill partition pruning — and all row content
        including ``run_id`` lineage columns, so time-travel reads are
        unaffected. A rewrite whose footers hold another row count than the
        log's aborts before its commit, with the table untouched.

        Before/after file counts, bytes and rows (from the log and the new
        footers — no data scan) are recorded as a stage record of the
        ``__compact__`` run; it carries ``table_compacted`` rather than
        ``table``, so :meth:`read`'s as-of visibility never treats a
        compaction as a data commit.

        Partitioned tables repartition BY the partition columns (each
        value collapses to one task -> one file per live partition
        directory); unpartitioned tables repartition to
        ``ceil(bytes / target_file_bytes)``."""
        before = self._files.get(table, {})
        bytes_before = sum(f["bytes"] for f in before.values())
        rows_before = sum(f["rows"] for f in before.values())
        parts = self.table_partitioning(table)

        def repartition(df: DataFrame) -> DataFrame:
            if parts:
                return df.repartition(*[F.col(p) for p in parts])
            return df.repartition(max(1, -(-bytes_before // max(target_file_bytes, 1))))

        add = self._rewrite(table, list(before), repartition) if before else []
        rows_after = sum(a["rows"] for a in add)
        if rows_after != rows_before:
            shutil.rmtree(self._staging, ignore_errors=True)
            raise RuntimeError(
                f"compact({table!r}): rewrite holds {rows_after} rows but the "
                f"source held {rows_before} — aborting before the commit "
                "(concurrent append, or a row-dropping read?); table left "
                "untouched"
            )
        n = sum(run == "__compact__" for run, _ in self._stages)
        payload = {
            "run_id": "__compact__",
            "stage": f"compact_{table}_{n}",
            "op": "compact",
            "table_compacted": table,
            "files_before": len(before),
            "files_after": len(add),
            "bytes_before": bytes_before,
            "bytes_after": sum(a["bytes"] for a in add),
            "row_count": rows_before,
            "rows_after": rows_after,
            "partition_by": parts,
            "status": "done",
            "ts": time.time(),
        }
        self._commit({"add": add, "remove": [{"table": table, "path": p} for p in before],
                      "stages": [payload]})
        return payload


def write_method_result(
    store: GraphStore,
    res,
    run_id: str,
    method_name: str = "method",
) -> dict:
    """Persist a MethodResult's new_nodes/new_edges/new_labels batches with
    per-ACTION provenance: every row carries ``_action`` (the producing
    action's index from ``res.node_actions``/``edge_actions``/
    ``label_actions``) so :meth:`GraphStore.rollback_action` can revert a
    single action — the reference's ``(action)-[:APPLIED]->(Changes)``
    discipline without driver-side id lists."""
    results: dict = {}
    for table, batches, actions in (
        ("nodes", res.new_nodes, res.node_actions),
        ("edges", res.new_edges, res.edge_actions),
        ("labels", res.new_labels, res.label_actions),
    ):
        parts, key = _LAYOUT[table]
        for j, (df, idx) in enumerate(zip(batches, actions)):
            stage = f"{method_name}__a{idx}_{table}{j}"
            results[stage] = store.write_stage(
                df.withColumn("_action", F.lit(idx)), table, run_id, stage,
                partition_by=parts, dedup_key=key,
            )
    return results


def materialize_kg(
    store: GraphStore,
    kg,
    run_id: str,
) -> dict:
    """Write a KGResult's nodes/edges/triples with lineage; resumable —
    re-invoking with the same run_id skips completed stages."""
    results = {}
    for table in ("nodes", "edges", "triples"):
        parts, key = _LAYOUT[table]
        results[table] = store.write_stage(
            getattr(kg, table), table, run_id, table,
            partition_by=parts, dedup_key=key,
        )
    return results
