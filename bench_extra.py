"""Per-query isolation bench (guide §1.4): times each declared query with
the noop sink so the computation is measured, not the sink, and optionally
captures .explain("formatted") to plans/<tag>/<query>_<suffix>.txt.

Separate from the FROZEN bench.py (driver contract). Usage:

    python bench_extra.py [--sf DIR] [--reps N] [--explain plans/r06 --suffix before] [query ...]

No queries given -> the full headline+hygiene set. Besides the declared
queries, the ``lib.*`` names time the EXACT library-call shapes of
bench.py's curation block, which read the parquet themselves (so
library-level parallelism fixes show there and entry-level ones do not):
lib.repeated_spans_xx, lib.repeated_cut_xx, lib.mix_weights,
lib.decontam_xxhash64, and lib.pq (reports lib.pq_train, lib.pq_assign and
lib.pq_rerank, composed as bench.py composes them).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_QUERIES = [
    # headline
    "kg_triples", "kg_extract_text", "kg_mentions", "agg_stats", "join_nway",
    "window_top1", "sessionize", "dedup_exact", "embed_topk", "lang_id",
    "fingerprint", "token_count",
    # hygiene
    "decontam", "pii_redact", "repetition", "url_hygiene", "stratified_cap",
    "pack_sequences", "bpe_tokens",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(thunk) -> float:
    t0 = time.time()
    thunk()
    return round(time.time() - t0, 3)


def _library_shapes(spark, sf: str) -> dict:
    """``lib.*`` name -> thunk returning ``{label: wall}``; warms up
    first-use codegen (bench.py discipline)."""
    from pyspark.sql import functions as F

    from tab2neo_spark.operators.corpus import domain_mixing_weights
    from tab2neo_spark.operators.decontam import ngram_collisions
    from tab2neo_spark.operators.dedup import (
        remove_repeated_regions, repeated_ngram_spans,
    )
    from tab2neo_spark.operators.pq import pq_assign, pq_rerank_topk, pq_train
    from tab2neo_spark.operators.textstats import token_count

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    repeated_ngram_spans(docs.limit(50), "text", "doc_id", n=8).count()

    calls = {
        "lib.repeated_spans_xx": lambda: repeated_ngram_spans(
            docs, "text", "doc_id", n=8, min_count=2).count(),
        "lib.repeated_cut_xx": lambda: remove_repeated_regions(
            docs, "text", "doc_id", n=8, min_count=2).count(),
        "lib.mix_weights": lambda: domain_mixing_weights(
            token_count(docs, "text"), "source", "n_tokens", alpha=0.7).count(),
        "lib.decontam_xxhash64": lambda: ngram_collisions(
            docs,
            docs.filter(F.col("doc_id") < 20).select(
                F.col("doc_id").alias("bench_doc"), "text"),
            "text", "doc_id", bench_id_col="bench_doc", n=8).count(),
    }

    def pq() -> dict:
        cb = []
        walls = {"lib.pq_train": _timed(lambda: cb.append(pq_train(
            emb, "embedding", "vec_id", m=8, k=16, sample=400, iters=5)))}
        walls["lib.pq_assign"] = _timed(
            lambda: pq_assign(emb, "embedding", cb[0]).count())
        walls["lib.pq_rerank"] = _timed(lambda: pq_rerank_topk(
            pq_assign(emb, "embedding", cb[0]), "embedding", "pq_codes",
            "vec_id", [0.1] * 64, cb[0], topk=10, rerank=200,
        ).count())
        return walls

    shapes = {name: (lambda name=name, c=c: {name: _timed(c)})
              for name, c in calls.items()}
    shapes["lib.pq"] = pq
    return shapes


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", default=None, help="directory for explain captures")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--count", action="store_true",
                    help="time .count() instead of the noop sink (bench.py parity)")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from tab2neo_spark.session import get_spark

    spark = get_spark(app_name="bench_extra",
                      cores=os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 32)))
    qs = entrymod.queries()
    names = args.queries or DEFAULT_QUERIES
    shapes = (_library_shapes(spark, args.sf)
              if any(n.startswith("lib.") for n in names) else {})

    # warmup: absorb JIT/codegen/python-worker spinup (CLAUDE.md discipline)
    try:
        qs["kg_triples"](spark, "/root/testdata/sf0.001").count()
        qs["decontam"](spark, "/root/testdata/sf0.001").count()
    except Exception:
        pass

    def entry_query(name):
        # fn() is INSIDE the timed region — bench.py parity (plan
        # construction and any driver-side metadata jobs count)
        def run() -> dict:
            sink = (lambda df: df.count()) if args.count else _noop
            return {name: _timed(lambda: sink(qs[name](spark, args.sf)))}
        return run

    out: dict[str, object] = {}
    for name in names:
        run = shapes.get(name) or (entry_query(name) if name in qs else None)
        if run is None:
            out[name] = "missing"
            continue
        walls: dict[str, list] = {}
        try:
            for r in range(args.reps):
                spark.sparkContext.setJobDescription(f"{name} rep{r}")
                for label, wall in run().items():
                    walls.setdefault(label, []).append(wall)
            for label, ws in walls.items():
                out[label] = {"min": min(ws), "walls": ws}
            if args.explain and name in qs:
                os.makedirs(args.explain, exist_ok=True)
                df = qs[name](spark, args.sf)
                p = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(os.path.join(args.explain, f"{name}_{args.suffix}.txt"), "w") as f:
                    f.write(p)
        except Exception as ex:
            out[name] = f"FAIL: {ex}"[:300]
            print(f"bench_extra: {name} failed: {ex}", file=sys.stderr)
        finally:
            spark.sparkContext.setJobDescription(None)
        shown = out[name] if name in out else {l: out[l] for l in walls}
        print(f"{name}: {shown}", file=sys.stderr)

    print(json.dumps({"sf": args.sf, "mode": "count" if args.count else "noop",
                      "timings": out}))
    spark.stop()


if __name__ == "__main__":
    main()
