"""Measure flagship KG-pipeline throughput at a given parallelism.

Run in a fresh process per parallelism level (JVM core count is fixed at
startup):  ``python tools/kg_throughput.py <cores> <n_pages> [sf_dir]``
Prints one JSON line: {"cores": N, "n_pages": P, "wall_s": W, "docs_per_sec": D}

Input is the deterministic synthetic pages table (datagen.synthetic_pages)
— identical bytes at any parallelism, so the two-cluster-size scaling rule
is evidenced on the exact same input.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cores = int(sys.argv[1])
    n_pages = int(sys.argv[2])

    from tab2neo_spark.datagen import synthetic_pages
    from tab2neo_spark.kg.construct import collect_metadata, construct_kg
    from tab2neo_spark.model.gazetteer import gazetteer_df, same_as_df
    from tab2neo_spark.session import get_spark

    spark = get_spark(app_name=f"kg_throughput_{cores}", cores=cores,
                      shuffle_partitions=max(8, cores))
    pages = synthetic_pages(spark, n_pages)
    # materialize the input once so generation cost isn't measured
    pages = pages.repartition(max(8, cores * 2)).cache()
    n = pages.count()
    meta = collect_metadata(gazetteer_df(spark), same_as_df(spark))

    def run_once() -> tuple[int, float]:
        t0 = time.time()
        kg = construct_kg(spark, pages, unique_urls=True, metadata=meta)
        # one materialization of the full triple output (MENTIONS + IS_A);
        # edges/nodes are projections of the same mention stream
        n_triples = kg.triples.count()
        wall = time.time() - t0
        kg.unpersist()
        return n_triples, wall

    # warmup run absorbs per-process fixed costs (JIT/codegen/python-worker
    # spinup) so we measure steady-state pipeline throughput, which is what
    # scales with cluster size. The sandbox host shows heavy interference
    # (identical runs vary 2-4x), and interference is strictly additive —
    # report the MINIMUM of the timed runs as the machine-capability number,
    # alongside all samples.
    n_triples, _ = run_once()
    walls = sorted(run_once()[1] for _ in range(int(os.environ.get('SPARK_GRAFT_BENCH_REPS', '3'))))
    wall = walls[0]

    print(json.dumps({
        "cores": cores,
        "n_pages": n,
        "n_triples": n_triples,
        "wall_s": round(wall, 2),
        "walls_all": [round(w, 2) for w in walls],
        "docs_per_sec": round(n / wall, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
