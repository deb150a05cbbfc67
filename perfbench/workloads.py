"""The benchmark workloads.

Each workload is a closed loop from one client: a *round* runs the
workload's public calls in order and waits for each result. ``setup``
generates the inputs; round 0 is the first unit of work in the fresh
process (the cold round); ``check`` verifies a round's outputs and
``reset`` restores the starting state, both outside the timed region.
``round`` returns its wall as ``round_s`` and the timings of its steps
(seconds, or a list of per-call seconds); ``check`` returns one name per
operation whose output was wrong. ``ops`` is the number of operations a
round attempts.

Spans (``<layer>.<call>``) wrap every public call; with tracing off they
cost nothing.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time

from pyspark.sql import functions as F

import gen
from tab2neo_spark.extract.html import with_extracted_text
from tab2neo_spark.kg.canon import components_adaptive
from tab2neo_spark.kg.construct import construct_kg
from tab2neo_spark.kg.materialize import GraphStore, materialize_kg, write_method_result
from tab2neo_spark.kg.oracle import oracle_triples
from tab2neo_spark.kg.refactor import RefactorEngine
from tab2neo_spark.model.metadata import MetadataModel
from tab2neo_spark.operators.dedup import (
    dedup_keep_canonical,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from tab2neo_spark.pipeline.runner import DerivationMethod
from tab2neo_spark.provider import DataProvider

# the table columns that identify a stored row (run_id differs per run)
TABLE_COLS = {
    "nodes": ["node_id", "class", "rdfs_label", "uri", "props"],
    "edges": ["src", "rel_type", "dst"],
    "triples": ["subj", "pred", "obj"],
}


def now() -> float:
    return time.perf_counter()


def table_digest(spark, path: str, cols: list[str]) -> tuple[int, int]:
    """(row count, order-independent row hash) of a parquet table."""
    df = spark.read.parquet(path)
    h = F.xxhash64(*[F.to_json(F.struct(F.col(c))) for c in cols])
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.pmod(h, F.lit(4294967291))).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def frame_digest(pdf) -> str:
    """Order-independent digest of a pandas result (list cells included)."""
    rows = sorted(repr(tuple(r)) for r in pdf.astype(str).itertuples(index=False))
    return hashlib.sha256(("|".join(pdf.columns) + "\n" + "\n".join(rows)).encode()).hexdigest()


def shingle_sets(texts: dict, k: int) -> dict:
    """{id: set of k-word shingles}, the way ``word_shingles`` tokenizes."""
    out = {}
    for d, text in texts.items():
        w = [x for x in text.lower().split() if x]
        out[d] = {" ".join(w[j:j + k]) for j in range(len(w) - k + 1)}
    return out


def jaccard_pairs_oracle(sets: dict, threshold: float) -> set:
    """Exact Jaccard pairs (a < b, J >= threshold) by an inverted index."""
    index: dict[str, list] = {}
    for d, s in sets.items():
        for sh in s:
            index.setdefault(sh, []).append(d)
    cand = {(min(a, b), max(a, b)) for ds in index.values() for a in ds for b in ds if a != b}
    return {(a, b) for a, b in cand
            if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= threshold}


class Workload:
    name = ""
    ops = 1

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.inputs: dict = {}
        self.notes: dict = {}

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, i: int) -> dict:
        raise NotImplementedError

    def check(self, i: int, out: dict) -> list[str]:
        return []

    def reset(self, i: int) -> None:
        pass

    def recover(self, i: int) -> None:
        """Restore the starting state after a round that raised."""
        self.reset(i)


# -- kg_build ----------------------------------------------------------------------


class KGBuild(Workload):
    """The batch path from crawl to graph. Pages with a near-duplicate share
    go through dedup_keep_canonical (minhash LSH -> verify ->
    components_adaptive) and the exact ngram_jaccard_pairs audit; the
    canonical pages then go through construct_kg(unique_urls=True) ->
    materialize_kg into an empty GraphStore, which is emptied between
    rounds."""

    name = "kg_build"
    N_PAGES = 3_000
    N_FILES = 8
    K = 3
    MINHASH_T, JACCARD_T = 0.7, 0.8
    ORACLE_PAGES = 200
    ops = 3  # dedup, jaccard, build

    def setup(self) -> None:
        self.pages = f"{self.work}/pages"
        shutil.rmtree(self.pages, ignore_errors=True)
        info = gen.pages(self.seed, self.N_PAGES, self.pages, self.N_FILES)
        self.exact = info.pop("exact")
        self.inputs = {**info, "shingle_k": self.K, "minhash_threshold": self.MINHASH_T,
                       "jaccard_threshold": self.JACCARD_T}
        self.ref: dict | None = None

    def _traced_stages(self, pages) -> dict:
        """Traced runs only, before the round's timer: the html->text Arrow
        UDF forced alone, and dedup_keep_canonical's stages as separate
        public calls."""
        tr, spark = self.tr, self.spark
        with tr.span("extract.with_extracted_text"):
            with_extracted_text(pages).select("text").write.format("noop").mode("overwrite").save()
        with tr.span("operators.dedup.minhash_lsh_candidates") as c:
            c["candidates"] = minhash_lsh_candidates(pages, "text", "page_id", k=self.K).count()
        with tr.span("operators.dedup.minhash_dedup_pairs") as c2:
            pairs = minhash_dedup_pairs(pages, "text", "page_id", k=self.K,
                                        threshold=self.MINHASH_T).toPandas()
            c2["verified_pairs"] = len(pairs)
            c2["candidate_precision"] = len(pairs) / max(c["candidates"], 1)
        with tr.span("kg.canon.components_adaptive"):
            edges = spark.createDataFrame(pairs[["a", "b"]], "a long, b long")
            components_adaptive(edges, src="a", dst="b").toPandas()
        # the stages above leave persisted shingle and band tables that the
        # timed calls would otherwise reuse
        self._release_cache()
        return {"verified_pairs": pairs}

    def _release_cache(self) -> int:
        """Drop every cached relation; returns how many were cached."""
        jsc = self.spark.sparkContext._jsc
        n = len(jsc.getPersistentRDDs())
        self.spark.catalog.clearCache()
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        return n

    def round(self, i: int) -> dict:
        tr, spark = self.tr, self.spark
        pages = spark.read.parquet(self.pages)
        out = self._traced_stages(pages) if tr.traced_run else {}
        t0 = now()
        with tr.span("operators.dedup.dedup_keep_canonical"):
            canon = dedup_keep_canonical(pages, "text", "page_id", k=self.K,
                                         threshold=self.MINHASH_T).toPandas()
        t1 = now()
        with tr.span("operators.dedup.ngram_jaccard_pairs") as c:
            jac = ngram_jaccard_pairs(pages, "text", "page_id", k=self.K,
                                      threshold=self.JACCARD_T).toPandas()
            c["verified_pairs"] = len(jac)
        t2 = now()
        keep = canon.loc[canon["page_id"] == canon["canonical_id"], ["page_id"]]
        kept = pages.join(F.broadcast(spark.createDataFrame(keep, "page_id long")),
                          "page_id", "left_semi")
        store = GraphStore(spark, f"{self.work}/store{i}")
        with tr.span("kg.construct.construct_kg"):
            kg = construct_kg(spark, kept, unique_urls=True)
        if tr.traced_run:
            with tr.span("kg.construct.mention_pairs") as c:
                c["rows"] = kg.mention_pairs.count()
            # materialize_kg's three writes, one span each
            with tr.span("kg.materialize.materialize_kg"):
                res = {}
                for table, part, key in (("nodes", ["class"], ["node_id"]),
                                         ("edges", ["rel_type"], ["src", "rel_type", "dst"]),
                                         ("triples", ["pred"], ["subj", "pred", "obj"])):
                    with tr.span(f"kg.materialize.write_stage_{table}") as c:
                        res[table] = store.write_stage(getattr(kg, table), table, f"b{i}", table,
                                                       partition_by=part, dedup_key=key)
                        c["rows"] = res[table]["row_count"]
                        c["output_files"] = len(res[table]["partitions"])
        else:
            res = materialize_kg(store, kg, run_id=f"b{i}")
        kg.unpersist()
        t3 = now()
        return {**out, "round_s": t3 - t0,
                "steps": {"dedup_s": t1 - t0, "jaccard_s": t2 - t1, "build_s": t3 - t2},
                "canon": canon, "jaccard": jac, "store": store.root,
                "rows": {t: r["row_count"] for t, r in res.items()}}

    def check(self, i: int, out: dict) -> list[str]:
        bad = []
        cmap = dict(zip(out["canon"]["page_id"], out["canon"]["canonical_id"]))
        if not (len(out["canon"]) == self.N_PAGES == len(cmap)
                and all(cmap.get(c) == c and c <= d for d, c in cmap.items())
                and all(cmap[a] == cmap[b] for a, b in self.exact)):
            bad.append("dedup")
        jac = out["jaccard"]
        pairs = set(zip(jac["a"], jac["b"]))
        if not (len(jac) > 0 and bool((jac["a"] < jac["b"]).all())
                and bool(((jac["jaccard"] >= self.JACCARD_T) & (jac["jaccard"] <= 1.0)).all())
                and all((min(a, b), max(a, b)) in pairs for a, b in self.exact)):
            bad.append("jaccard")
        if "verified_pairs" in out and not bool(
                (out["verified_pairs"]["jaccard"] >= self.MINHASH_T).all()):
            bad.append("minhash_dedup_pairs")
        got = {t: table_digest(self.spark, f"{out['store']}/{t}", cols)
               for t, cols in TABLE_COLS.items()}
        build_ok = all(got[t][0] == out["rows"][t] for t in got)
        if self.ref is None:
            # the first round is the per-run reference, itself checked
            # against plain-Python oracles on a seeded slice
            self.ref = got
            kept = {d for d, c in cmap.items() if d == c}
            self.notes.update(tables={t: n for t, (n, _) in got.items()},
                              kept_pages=len(kept), jaccard_pairs=len(jac))
            if not self._jaccard_oracle(pairs):
                bad.append("jaccard")
            build_ok = build_ok and self._triples_oracle(out["store"], kept)
        if not build_ok or got != self.ref:
            bad.append("build")
        return bad

    def _jaccard_oracle(self, pairs: set) -> bool:
        """The exact pairs among a seeded slice of pages equal a plain-Python
        Jaccard over the same slice."""
        pdf = self.spark.read.parquet(self.pages).select("page_id", "text").toPandas()
        pdf = pdf.sample(n=self.N_PAGES // 4, random_state=self.seed)
        sets = shingle_sets(dict(zip(pdf["page_id"], pdf["text"])), self.K)
        expected = jaccard_pairs_oracle(sets, self.JACCARD_T)
        got = {(a, b) for a, b in pairs if a in sets and b in sets}
        self.notes["jaccard_oracle"] = {"pages": len(sets), "pairs": len(expected),
                                        "match": got == expected}
        return got == expected

    def _triples_oracle(self, store_root: str, kept: set) -> bool:
        """The stored triples of a seeded slice of the kept pages equal
        kg/oracle.py's."""
        pdf = self.spark.read.parquet(self.pages).select("page_id", "url", "html").toPandas()
        pdf = pdf[pdf["page_id"].isin(kept)].sample(n=self.ORACLE_PAGES, random_state=self.seed)
        pdf["html"] = pdf["html"].map(bytes)
        expected = oracle_triples(pdf)
        trip = self.spark.read.parquet(f"{store_root}/triples")
        ment = trip.filter(F.col("subj").isin(list(pdf["url"]))) \
            .select("subj", "pred", "obj").collect()
        got = {tuple(r) for r in ment}
        objs = sorted({r["obj"] for r in ment})
        got |= {tuple(r) for r in trip.filter((F.col("pred") == "IS_A") & F.col("subj").isin(objs))
                .select("subj", "pred", "obj").collect()}
        self.notes["triples_oracle"] = {"pages": self.ORACLE_PAGES, "triples": len(expected),
                                        "match": got == expected}
        return got == expected

    def reset(self, i: int) -> None:
        shutil.rmtree(f"{self.work}/store{i}", ignore_errors=True)
        # the minhash/jaccard operators persist intermediates with no
        # release path; count what a round leaves, then drop it so every
        # round starts from the same cache state
        self.notes["persisted_after_round"] = self._release_cache()


# -- kg_serve ----------------------------------------------------------------------


SERVE_RELS = [("Order", "Customer", "PLACED_BY"), ("Order", "Priority", "HAS_PRIORITY")]


def serve_model():
    """The customer/orders schema: row columns map to classes, and the
    schema relationships between them are echoed into edges."""
    m = MetadataModel()
    m.create_related_classes_from_list([["OrderRow", c, c] for c in gen.TABULAR_COLUMNS])
    for frm, to, typ in SERVE_RELS:
        m.create_relationship(frm, to, typ)
    return m


def graph_keys(frame: dict) -> dict[str, set]:
    """The nodes and edges ``RefactorEngine.refactor_all`` makes of these
    rows under ``serve_model``, keyed by value instead of hashed id:
    one node per (class, value); FROM_DATA from each entity to its row,
    one edge per schema relationship whose two ends share a row, and
    IS_A from each entity to its class."""
    nodes, edges = set(), set()
    cols = gen.TABULAR_COLUMNS
    for row in zip(*(frame[c] for c in cols)):
        ent = {c: v for c, v in zip(cols, row) if v is not None}
        for c, v in ent.items():
            nodes.add((c, v))
            edges.add(("FROM_DATA", (c, v), row))
            edges.add(("IS_A", (c, v), c))
        for frm, to, typ in SERVE_RELS:
            if frm in ent and to in ent:
                edges.add((typ, (frm, ent[frm]), (to, ent[to])))
    return {"nodes": nodes, "edges": edges}


def query_mix(seed: int, per_shape: int, n_orders: int, n_customers: int) -> list[dict]:
    """A fixed, seeded list of get_data calls: join+where, optional '**',
    labels_to_pack, and where_rel_map EXISTS."""
    rnd = random.Random(seed)
    base = seed * gen.ID_STRIDE
    # key ranges compare labels as strings, so they are cut from the keys
    # in string order (seed 0's keys differ in digit count)
    keys = {n: sorted(str(base + j) for j in range(n)) for n in (n_orders, n_customers)}

    def key_range(prefix: str, n: int, share: float) -> dict:
        lo = rnd.randrange(int(n * (1 - share)))
        return {"min": prefix + keys[n][lo], "max": prefix + keys[n][lo + int(n * share)],
                "min_include": True}

    mix = []
    for _ in range(per_shape):
        mix.append(dict(
            labels=["Customer", "Order", "Priority"],
            rels=[{"from": "Order", "to": "Customer", "type": "PLACED_BY"},
                  {"from": "Order", "to": "Priority", "type": "HAS_PRIORITY"}],
            where_map={"Priority": {"rdfs:label": rnd.choice(gen.PRIORITIES)},
                       "Customer": {"rdfs:label": key_range("C", n_customers, 0.5)}}))
        mix.append(dict(
            labels=["Order", "Priority**"],
            rels=[{"from": "Order", "to": "Priority", "type": "HAS_PRIORITY"}],
            where_map={"Order": {"rdfs:label": key_range("O", n_orders, 0.25)}}))
        mix.append(dict(
            labels=["Customer", "Order"],
            rels=[{"from": "Order", "to": "Customer", "type": "PLACED_BY"}],
            where_map={"Customer": {"rdfs:label": key_range("C", n_customers, 0.25)}},
            labels_to_pack=["Order"]))
        mix.append(dict(
            labels=["Customer"],
            where_rel_map={"Customer": {"EXISTS": {"include": [
                {"Order": {"rdfs:label": key_range("O", n_orders, 0.25)}}]}}}))
    rnd.shuffle(mix)
    return mix


DERIVE = {
    "name": "urgency",
    "actions": [
        {"type": "get_data", "labels": ["Order", "Priority"], "include_ids": True,
         "rels": [{"from": "Order", "to": "Priority", "type": "HAS_PRIORITY"}]},
        {"type": "assign_class", "class": "Urgency", "value_column": "Priority"},
        {"type": "link", "relationship_type": "HAS_URGENCY",
         "from_id": "_id_Order", "to_id": "_id_Urgency"},
    ],
}


class KGServe(Workload):
    """A store built from a tabular batch, serving cycles of readback
    queries, a keyed upsert of the next batch, a derivation method, and a
    rollback of the cycle's run. Round 0 builds the store; every later
    round is one cycle and ends with the store back at its built state."""

    name = "kg_serve"
    N_ORDERS, N_CUSTOMERS = 400_000, 4_000
    BASE_ROWS, BATCH_ROWS = 3_000, 1_000
    PER_SHAPE = 2  # queries per shape per cycle
    TABLES = ["nodes", "edges"]

    def setup(self) -> None:
        w = self.work
        for d in ("base", "store", "pristine", "batches"):
            shutil.rmtree(f"{w}/{d}", ignore_errors=True)
        self.tab = gen.Tabular(self.seed, self.N_ORDERS, self.N_CUSTOMERS,
                               self.BASE_ROWS, self.BATCH_ROWS)
        self.tab.write(self.tab.base_index(), f"{w}/base", 2)
        self.model = serve_model()
        self.mix = query_mix(self.seed, self.PER_SHAPE, self.N_ORDERS, self.N_CUSTOMERS)
        self.base_keys = graph_keys(self.tab.frame(self.tab.base_index()))
        self.ref_hashes: list[str] | None = None
        self.restores = 0
        self.inputs = {"base_rows": self.BASE_ROWS, "batch_rows": self.BATCH_ROWS,
                       "row_overlap": self.tab.overlap,
                       "null_priority_share": gen.NULL_PRIORITY_SHARE,
                       "queries_per_cycle": len(self.mix),
                       "store_rows": {t: len(v) for t, v in self.base_keys.items()}}

    @property
    def ops(self) -> int:
        return len(self.mix) + 3

    def _upsert(self, store: GraphStore, path: str, run_id: str) -> dict:
        tr = self.tr
        with tr.span("kg.refactor.refactor_all"):
            res = RefactorEngine(self.spark, self.model).refactor_all(
                self.spark.read.parquet(path), "OrderRow")
        out = {}
        self.span_counts = {}
        for table, df, part, key in (("nodes", res.nodes, ["class"], ["node_id"]),
                                     ("edges", res.edges, ["rel_type"], ["src", "rel_type", "dst"])):
            with tr.span(f"kg.materialize.upsert_{table}") as c:
                out[table] = store.write_stage(df, table, run_id, f"tab_{table}",
                                               partition_by=part, dedup_key=key)
                c["rows"] = out[table]["row_count"]
                c["upsert.scan_partitions"] = out[table]["dedup_scan_partitions"] or 0
            self.span_counts[table] = c
        return out

    def _provider(self, store: GraphStore) -> DataProvider:
        return DataProvider(self.spark, self.model, store.read("nodes"), store.read("edges"))

    def round(self, i: int) -> dict:
        tr, spark = self.tr, self.spark
        store = GraphStore(spark, f"{self.work}/store")
        if i == 0:
            t0 = now()
            up = self._upsert(store, f"{self.work}/base", "base")
            dt = now() - t0
            return {"round_s": dt, "steps": {"upsert_s": dt}, "upsert": up}
        run = f"c{i}"
        self.batch_idx = self.tab.batch_index(i)
        batch = f"{self.work}/batches/{i}"
        self.tab.write(self.batch_idx, batch, 2)  # the batch arrives; untimed
        t_start = now()
        # 1. readback: the seeded query mix against the committed store
        prov = self._provider(store)
        calls, results = [], []
        for q in self.mix:
            t0 = now()
            with tr.span("provider.get_data"):
                df = prov.get_data(**q)
            with tr.span("provider.toPandas"):
                results.append(df.toPandas())
            calls.append(now() - t0)
        t1 = now()
        # 2. keyed upsert of the next tabular batch
        up = self._upsert(store, batch, run)
        t2 = now()
        # 3. derivation method over the store, stored with per-action provenance
        with tr.span("pipeline.apply"):
            res = DerivationMethod(spark, DERIVE, provider=self._provider(store)).apply()
        with tr.span("kg.materialize.write_method_result"):
            wm = write_method_result(store, res, run, "urgency")
        t3 = now()
        # 4. roll the cycle's run back
        with tr.span("kg.materialize.rollback_run"):
            store.rollback_run(run, self.TABLES)
        t4 = now()
        if tr.enabled:
            for a in res.audit:  # the method's own per-action plan time
                tr.record(f"pipeline.{a['action']}", 0.0, a["wall_s"])
        return {"round_s": t4 - t_start,
                "steps": {"query_s": calls, "upsert_s": t2 - t1, "derive_s": t3 - t2,
                          "rollback_s": t4 - t3},
                "results": results,
                "upsert": up, "derived": wm}

    def check(self, i: int, out: dict) -> list[str]:
        bad = []
        store = GraphStore(self.spark, f"{self.work}/store")
        batch_idx = self.tab.base_index() if i == 0 else self.batch_idx
        # upsert: exactly the batch's nodes and edges not yet stored were written
        offered = graph_keys(self.tab.frame(batch_idx))
        stored = {t: set() for t in self.TABLES} if i == 0 else self.base_keys
        ratios = {}
        for t in self.TABLES:
            if out["upsert"][t]["row_count"] != len(offered[t] - stored[t]):
                bad.append("upsert")
            ratios[t] = out["upsert"][t]["row_count"] / len(offered[t])
            self.span_counts[t]["upsert.new_row_ratio"] = ratios[t]
        if i == 0:
            shutil.copytree(store.root, f"{self.work}/pristine")
            self.pristine = {t: (table_digest(self.spark, store.path(t), TABLE_COLS[t]),
                                 parquet_files(store.path(t))) for t in self.TABLES}
            return bad
        self.notes["upsert_new_row_ratio"] = ratios
        hashes = [frame_digest(p) for p in out["results"]]
        if self.ref_hashes is None:
            self.ref_hashes = hashes
            self.notes["query_rows"] = [len(p) for p in out["results"]]
        bad += ["query" for h, ref, p in zip(hashes, self.ref_hashes, out["results"])
                if h != ref or len(p) == 0]
        # derive: one Urgency node per priority, one edge per prioritized order
        pairs = (self.tab.prioritized_orders(self.tab.base_index())
                 | self.tab.prioritized_orders(batch_idx))
        d = out["derived"]
        nodes = sum(v["row_count"] for k, v in d.items() if "_nodes" in k)
        edges = sum(v["row_count"] for k, v in d.items() if "_edges" in k)
        if (nodes, edges) != (len({p for _, p in pairs}), len(pairs)):
            bad.append("derive")
        # rollback: rows back to the built store; layout drift is restored
        drift = False
        for t in self.TABLES:
            digest, files = self.pristine[t]
            if table_digest(self.spark, store.path(t), TABLE_COLS[t]) != digest:
                bad.append("rollback")
                break
            drift = drift or parquet_files(store.path(t)) != files
        if drift or "rollback" in bad:
            self.restores += 1
            self._restore()
        self.notes["layout_restores"] = self.restores
        return bad

    def _restore(self) -> None:
        root = f"{self.work}/store"
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(f"{self.work}/pristine", root)

    def reset(self, i: int) -> None:
        shutil.rmtree(f"{self.work}/batches/{i}", ignore_errors=True)

    def recover(self, i: int) -> None:
        self.reset(i)
        if i > 0:
            self._restore()


WORKLOADS = {w.name: w for w in (KGBuild, KGServe)}
