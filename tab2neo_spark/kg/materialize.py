"""Graph materialization: partitioned tables + lineage + idempotent resume.

Replaces the reference's Cypher MERGE ingestion and its ``Changes`` audit
nodes (derivation_method/action.py:156-175; rollback
derivation_method.py:596-671).  The north rule requires: every stage
writes per-partition lineage + row-count metrics to a checkpoint table so
runs resume idempotently at 10^12-document scale.

Design:

- **Tables**: ``nodes`` partitioned by ``class``, ``edges`` by
  ``rel_type``, ``triples`` by ``pred`` — partition pruning serves the
  readback layer's class/rel filters directly (``_LAYOUT`` states each
  table's partition columns and dedup key once). Plain parquet only; an
  Iceberg deployment would replace the anti-join with MERGE INTO and the
  rollback's file deletes with a snapshot rollback.
- **Idempotency**: all ids are deterministic content hashes, so re-writing
  the same input produces byte-identical rows; dedup-on-write
  (anti-join against the existing table) replaces transactional MERGE.
  The anti-join reads only the partitions the batch can touch, taken from
  the batch's plan constraints where they bound them (no job).
- **Lineage**: one checkpoint row per (run_id, stage) with row counts +
  per-partition row histogram; a stage found 'done' in the checkpoint
  table is skipped on resume — re-running a crashed job re-does only the
  missing stages.
- **Schema**: ``<table>__meta.json`` records the partition columns and
  the union of every column ever written (partition columns last), so
  every read is ``spark.read.schema(recorded)`` — no inference job, and
  columns an older file lacks read as NULL.
- **Rollback/compaction**: every row carries ``run_id`` (and ``_action``
  when written by :func:`write_method_result`), and every file
  ``write_stage`` appends holds one run (and one action). Rollback sorts
  files by their parquet footer statistics, with no data scan: it deletes
  the files holding only the dropped rows, leaves the files holding none
  of them, and rewrites only the mixed ones (the copy-on-write DELETE of
  Delta Lake). Mixed files and compaction go through ONE rewrite
  (:meth:`GraphStore._rewrite`).
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

from pyspark.sql import DataFrame, SparkSession
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
    """Filesystem-rooted node/edge/triple store with a checkpoint table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        os.makedirs(self.root, exist_ok=True)

    # -- paths ---------------------------------------------------------------

    def path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def _ckpt_dir(self) -> str:
        return f"{self.root}/_checkpoint"

    # -- checkpoint / lineage --------------------------------------------------

    def stage_done(self, run_id: str, stage: str) -> bool:
        rec = self._read_ckpt(run_id, stage)
        return rec is not None and rec.get("status") == "done"

    def _ckpt_file(self, run_id: str, stage: str) -> str:
        return f"{self._ckpt_dir()}/{run_id}__{stage}.json"

    def _read_ckpt(self, run_id: str, stage: str) -> dict | None:
        p = self._ckpt_file(run_id, stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    @staticmethod
    def _write_json(path: str, obj: dict) -> None:
        """Write ``obj`` to a temp file and rename it over ``path``, so a
        reader sees the old record or the new one, never a partial one."""
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)

    def write_checkpoint(self, run_id: str, stage: str, payload: dict) -> None:
        """Atomic (write-temp + rename) local checkpoint record; on a real
        cluster this is an Iceberg/Delta append to a checkpoint table —
        both give the same all-or-nothing visibility."""
        os.makedirs(self._ckpt_dir(), exist_ok=True)
        self._write_json(self._ckpt_file(run_id, stage), payload)

    def checkpoints(self, run_id: str | None = None) -> list[dict]:
        """Checkpoint records, all of them or only ``run_id``'s. The file
        name prefix only narrows the reads: run ``r``'s prefix also names
        run ``r__retry``'s files, so a record belongs to the run it
        states."""
        out = []
        d = self._ckpt_dir()
        if not os.path.isdir(d):
            return out
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".json"):
                continue
            if run_id and not fn.startswith(f"{run_id}__"):
                continue
            with open(f"{d}/{fn}") as f:
                rec = json.load(f)
            if not run_id or rec.get("run_id") == run_id:
                out.append(rec)
        return out

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
        """Write one stage's output with lineage; skip if already done.

        Returns the checkpoint payload. ``dedup_key`` turns the append into
        an idempotent keyed upsert (left-anti against existing keys — the
        MERGE INTO analog without Iceberg).
        """
        if self.stage_done(run_id, stage):
            return self._read_ckpt(run_id, stage)

        t0 = time.time()
        out = df.withColumn("run_id", F.lit(run_id))
        path = self.path(table)
        # recorded BEFORE the write: a schema naming a column no file holds
        # yet is harmless (it reads as NULL); a file holding a column the
        # schema lacks would hide it
        self._record_schema(table, partition_by or [], out.schema)
        n_pruned: int | None = None

        if dedup_key and os.path.isdir(path):
            existing, n_pruned = self._existing_for_dedup(path, out, partition_by)
            # no distinct() on the existing keys: an anti-join's result does
            # not depend on duplicates on its right side
            out = out.join(existing.select(*dedup_key), dedup_key, "left_anti")

        # lineage WITHOUT a second pass: the row count rides on the write
        # itself via df.observe (one job, one scan — a pre-write
        # groupBy().count().collect() would execute the full stage DAG
        # twice, doubling the most expensive jobs at scale), and the
        # per-file histogram comes from the written parquet FOOTERS
        # (metadata-only — Iceberg deployments read the same numbers from
        # snapshot manifests)
        from pyspark.sql import Observation

        before_files = self._parquet_files(path)
        obs = Observation(f"{run_id}__{stage}")
        out = out.observe(obs, F.count(F.lit(1)).alias("row_count"))

        writer = out.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

        row_count = obs.get["row_count"]
        hist = self._footer_histogram(self._parquet_files(path) - before_files)

        payload = {
            "run_id": run_id,
            "stage": stage,
            "table": table,
            "row_count": row_count,
            "partitions": hist,
            "dedup_scan_partitions": n_pruned,
            "wall_s": round(time.time() - t0, 3),
            "status": "done",
            "ts": time.time(),
        }
        self.write_checkpoint(run_id, stage, payload)
        return payload

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

    @staticmethod
    def _parquet_files(path: str) -> set[str]:
        out: set[str] = set()
        if not os.path.isdir(path):
            return out
        for dirpath, _, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    out.add(os.path.join(dirpath, fn))
        return out

    def _footer_histogram(self, files: set[str]) -> dict[str, int]:
        """Per-output-file row counts from parquet footer metadata — no
        data scan; the driver reads a few KB per file."""
        import pyarrow.parquet as pq

        hist: dict[str, int] = {}
        for f in sorted(files):
            rel = os.path.relpath(f, self.root)
            hist[rel] = pq.ParquetFile(f).metadata.num_rows
        return hist

    def read(self, table: str, as_of_run: str | None = None) -> DataFrame:
        """Read a table, optionally AS OF a run — the Iceberg
        time-travel analog over this store's checkpoint lineage: the
        visible rows are those of surviving runs whose last commit on
        this table happened at or before ``as_of_run``'s last commit
        (checkpoint ``ts``). The visible-run set is metadata-scale, so
        it renders as an ``isin`` literal the scan filters on.

        Divergence from real Iceberg (documented, inherent to plain
        parquet): a ROLLED-BACK run's files are physically deleted or
        rewritten, so time travel sees append history only — it cannot
        resurrect rows a rollback removed; Iceberg's snapshot manifests
        can."""
        df = self._scan(table)
        if as_of_run is None:
            return df
        commit_ts: dict[str, float] = {}
        for rec in self.checkpoints():
            if rec.get("table") == table and rec.get("status") == "done":
                rid = rec["run_id"]
                commit_ts[rid] = max(commit_ts.get(rid, 0.0), rec.get("ts", 0.0))
        if as_of_run not in commit_ts:
            raise ValueError(
                f"run {as_of_run!r} has no surviving commit on table {table!r}"
            )
        cutoff = commit_ts[as_of_run]
        visible = sorted(r for r, t in commit_ts.items() if t <= cutoff)
        return df.filter(F.col("run_id").isin(visible))

    # -- table metadata (partition layout + recorded schema) -------------------

    def _meta_file(self, table: str) -> str:
        return f"{self.root}/{table}__meta.json"

    def _table_meta(self, table: str) -> dict:
        try:
            with open(self._meta_file(table)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def table_partitioning(self, table: str) -> list[str]:
        return self._table_meta(table).get("partition_by", [])

    def _schema(self, table: str) -> StructType:
        """The recorded schema. A table without one (raw parquet, or a
        store that predates recorded schemas) is inferred once, merging
        every footer, and recorded."""
        meta = self._table_meta(table)
        if "schema" not in meta:
            merged = self.spark.read.option("mergeSchema", "true").parquet(self.path(table))
            meta["schema"] = merged.schema.jsonValue()
            self._write_json(self._meta_file(table), meta)
        return StructType.fromJson(meta["schema"])

    def _record_schema(
        self, table: str, partition_by: list[str], schema: StructType
    ) -> None:
        """Widen the recorded schema by ``schema``'s new columns, on the
        driver (no job once a schema is recorded). The first write's
        ``partition_by`` is the table's; partition columns stay last, where
        a partitioned read puts them."""
        old = self._table_meta(table)
        fields = {}
        if "schema" in old or os.path.isdir(self.path(table)):
            fields = {f.name: f for f in self._schema(table).fields}
        for f in schema.fields:
            fields.setdefault(f.name, f)
        parts = old.get("partition_by", partition_by)
        merged = StructType(
            [f for name, f in fields.items() if name not in parts]
            + [fields[p] for p in parts if p in fields]
        )
        meta = {"partition_by": parts, "schema": merged.jsonValue()}
        if meta != old:
            self._write_json(self._meta_file(table), meta)

    def _scan(self, table: str, files=None) -> DataFrame:
        """The one read of a stored table, under its recorded schema (no
        inference job). ``files`` restricts it to those parquet files;
        ``basePath`` keeps their partition values."""
        reader = self.spark.read.schema(self._schema(table))
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
            os.remove(f)
            with suppress(FileNotFoundError):
                os.remove(self._crc(f))
            d = os.path.dirname(f)
            while len(d) > len(root) and not os.listdir(d):
                os.rmdir(d)
                d = os.path.dirname(d)

    def _rewrite(
        self, table: str, files, transform, tag: str, expect_rows: int | None = None
    ) -> None:
        """The one rewrite of stored files: ``transform`` the rows of
        ``files``, write them to ``<table>__<tag>_tmp`` with the table's
        recorded partitioning, move the new files into the table, then
        delete ``files``. Files outside ``files`` are never touched.

        ``expect_rows`` checks the rewrite's footer row count before
        anything in the table changes (r5 ADVICE): a row-losing rewrite
        aborts with the table intact. Every mutation assumes a single
        writer. A crash after the move and before the delete leaves the
        kept rows twice."""
        path = self.path(table)
        tmp = f"{path}__{tag}_tmp"
        writer = transform(self._scan(table, files)).write.mode("overwrite")
        parts = self.table_partitioning(table)
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(tmp)
        new = self._parquet_files(tmp)
        if expect_rows is not None:
            rows_tmp = sum(self._footer_histogram(new).values())
            if rows_tmp != expect_rows:
                shutil.rmtree(tmp)
                raise RuntimeError(
                    f"{tag}({table!r}): rewrite holds {rows_tmp} rows but the "
                    f"source held {expect_rows} — aborting before the swap "
                    "(concurrent append, or a row-dropping read?); original "
                    "directory left untouched"
                )
        for f in new:
            dst = os.path.join(path, os.path.relpath(f, tmp))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(f, dst)
            with suppress(FileNotFoundError):
                os.replace(self._crc(f), self._crc(dst))
        shutil.rmtree(tmp)
        self._delete_files(table, files)

    # -- rollback ----------------------------------------------------------------

    def rollback_run(self, run_id: str, tables: list[str]) -> None:
        """Delete a run's rows from each table and mark its checkpoints
        rolled back. Files holding only the run's rows are deleted, files
        holding none are left alone, and only mixed files (after
        :meth:`compact`) are rewritten — so rolling back a run that was not
        compacted since runs no Spark job."""
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

        changed = set()
        for t in tables:
            path = self.path(t)
            verdict = {f: self._footer_match(path, f, match)
                       for f in self._parquet_files(path)}
            mixed = [f for f, v in verdict.items() if v == "some"]
            if mixed:
                self._rewrite(t, mixed, lambda df: df.filter(~drop), "rollback")
            pure = [f for f, v in verdict.items() if v == "all"]
            self._delete_files(t, pure)
            if mixed or pure:
                changed.add(t)
        # only the checkpoints of the CHANGED tables flip status: a
        # partial rollback must keep the other tables' commits visible —
        # time-travel reads (read(as_of_run=...)) derive visibility from
        # per-table checkpoint status
        marker = "" if action_idx is None else f"__a{action_idx}_"
        for rec in self.checkpoints(run_id):
            if rec.get("table") in changed and marker in rec["stage"]:
                rec["status"] = "rolled_back"
                self.write_checkpoint(run_id, rec["stage"], rec)

    @staticmethod
    def _footer_match(root: str, f: str, match: dict) -> str:
        """Which rows of parquet file ``f`` equal every ``match`` column
        value: ``"all"``, ``"none"`` or ``"some"``, from the footer's
        per-row-group min/max/null statistics alone (no data scan). A
        column the file lacks is NULL, which never matches, unless it is a
        partition column (a ``col=`` directory), whose value the footer
        does not hold. Missing statistics, or any NULL, count as "some"."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(f).metadata
        if md.num_row_groups == 0:
            return "none"
        cols = {md.row_group(0).column(j).path_in_schema: j
                for j in range(md.num_columns)}
        segments = os.path.relpath(f, root).split(os.sep)[:-1]
        groups = set()
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            seen = set()
            for col, value in match.items():
                if col not in cols:
                    partition = any(s.startswith(f"{col}=") for s in segments)
                    seen.add("some" if partition else "none")
                    continue
                st = rg.column(cols[col]).statistics
                if (st is None or not st.has_min_max or not st.has_null_count
                        or st.null_count):
                    seen.add("some")
                elif st.min == st.max == value:
                    seen.add("all")
                elif value < st.min or value > st.max:
                    seen.add("none")
                else:
                    seen.add("some")
            # the drop predicate is a conjunction over the match columns
            groups.add("none" if "none" in seen else "some" if "some" in seen else "all")
        return groups.pop() if len(groups) == 1 else "some"

    # -- compaction (small-file hygiene) ---------------------------------------

    def compact(self, table: str, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Rewrite a table's accumulated small files into ~``target_file_
        bytes`` files (VERDICT r4, Next round #10): repeated append runs
        and rollback rewrites each leave their own file set, and at scale
        the per-file open/footer cost comes to dominate scans. The rewrite
        PRESERVES the partition layout contract (``<table>__meta.json``)
        — losing it would silently kill partition pruning — and all row
        content including ``run_id`` lineage columns, so time-travel reads
        are unaffected. Before/after file counts, bytes, and row counts
        (parquet footers — no data scan) are recorded as a lineage
        checkpoint under the ``__compact__`` run; the payload deliberately
        carries ``table_compacted`` rather than ``table`` so
        :meth:`read`'s as-of visibility scan never treats a compaction as
        a data commit.

        Partitioned tables repartition BY the partition columns (each
        value collapses to one task -> one file per live partition
        directory); unpartitioned tables repartition to
        ``ceil(bytes / target_file_bytes)``."""
        path = self.path(table)
        before = self._parquet_files(path)
        bytes_before = sum(os.path.getsize(f) for f in before)
        rows_before = sum(self._footer_histogram(before).values())
        parts = self.table_partitioning(table)

        def repartition(df: DataFrame) -> DataFrame:
            if parts:
                return df.repartition(*[F.col(p) for p in parts])
            return df.repartition(max(1, -(-bytes_before // max(target_file_bytes, 1))))

        if before:
            self._rewrite(table, before, repartition, "compact", expect_rows=rows_before)

        after = self._parquet_files(path)
        payload = {
            "run_id": "__compact__",
            "op": "compact",
            "table_compacted": table,
            "files_before": len(before),
            "files_after": len(after),
            "bytes_before": bytes_before,
            "bytes_after": sum(os.path.getsize(f) for f in after),
            "row_count": rows_before,
            "rows_after": sum(self._footer_histogram(after).values()),
            "partition_by": parts,
            "status": "done",
            "ts": time.time(),
        }
        stage = f"compact_{table}_{len(self.checkpoints('__compact__'))}"
        payload["stage"] = stage
        self.write_checkpoint("__compact__", stage, payload)
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
