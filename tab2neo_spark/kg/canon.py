"""Canonicalization: connected components over alias edges.

The reference dedups entities transactionally — Neo4j ``MERGE`` collapses
equal keys at write time, and cross-codelist equivalence is a ``SAME_AS``
edge (model_managers/model_manager.py:941-976; load_df merge semantics at
derivation_method/action.py:1667-1682).  A distributed engine has no
cross-batch transactional MERGE, so equivalence closure is computed as
**connected components** over the alias-edge DataFrame and every member is
rewritten to its component's canonical representative (the minimum id).

Algorithm: iterative hash-min label propagation —
``comp(v) <- min(comp(v), min over neighbors comp(u))`` to fixpoint.
Each round is one shuffle (groupBy on vertex); lineage is truncated with
an eager ``localCheckpoint`` every round so 50-round runs do not
accumulate a 50-deep plan (the same reason the reference caps its
SUBCLASS_OF traversal at depth 50, model_manager.py:25).  Rounds needed =
graph diameter, which for alias/SAME_AS graphs is tiny (star-shaped
synonym clusters); the loop is still written for the general case —
convergence is detected with an aggregate, not assumed.

Skew note: a giant component (head entity with thousands of aliases)
concentrates on one reducer in the groupBy. ``salt_partitions`` pre-splits
the min-reduce into a two-level aggregation (partial min per salt, then
global min) — Spark's partial aggregation already does this for ``min``,
which is why hash-min (an algebraic aggregate) is the right primitive at
scale, vs. collecting neighbor lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Return ``(id, component)`` — component = min member id (any orderable
    type; strings give the lexicographically-first surface form).

    Works on undirected semantics regardless of edge direction in input.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    # symmetrize once; dedup to keep rounds minimal
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    sym = sym.localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )

    for i in range(max_iter):
        # (1) hash-min hop: candidate label for v = min component among v
        #     and its neighbors
        neighbor_min = (
            sym.join(labels, sym.u == labels.id, "inner")
            .select(F.col("v").alias("id"), F.col("component"))
            .groupBy("id")
            .agg(F.min("component").alias("nmin"))
        )
        hopped = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("component"),
        )
        # (2) pointer jump (path halving): component <- component of my
        #     component. One hop/round alone needs O(diameter) rounds — a
        #     2000-long alias chain would never converge within max_iter;
        #     jumping doubles the propagation distance -> O(log n) rounds.
        parent = hopped.select(
            F.col("id").alias("pid"), F.col("component").alias("pcomp")
        )
        new_labels = (
            hopped.join(parent, hopped.component == parent.pid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("pcomp"), F.col("component"))
                ).alias("component"),
            )
        )
        # eager checkpoint every round: it doubles as the convergence action
        # (the change-count would otherwise re-run the whole lineage) and
        # truncates the iterative plan.
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds "
            "(graph diameter too large?) — raise max_iter"
        )
    return labels


def _union_find_driver(pairs: list[tuple]) -> dict:
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in list(parent)}


def components_adaptive(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    driver_threshold: int = 100_000,
) -> DataFrame:
    """``(id, component)``, type-preserving (long doc ids as well as
    string surfaces). Distribution strategy follows data size, like the
    reference's driver-side metadata planning (SURVEY §2.11): below
    ``driver_threshold`` edges the union-find runs on the driver in ONE
    job — a multi-round iterative shuffle's fixed overhead dominates at
    metadata scale — while larger graphs go through the distributed
    hash-min + pointer-jumping loop."""
    from pyspark.storagelevel import StorageLevel

    spark = edges.sparkSession
    # the edge relation may be an expensive pipeline (e.g. minhash verify) —
    # persist it so the size probe and the actual read are ONE computation
    edges = edges.select(src, dst).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = edges.limit(driver_threshold + 1).count()
        if n <= driver_threshold:
            pairs = [(r[src], r[dst]) for r in edges.collect()]
            mapping = sorted(_union_find_driver(pairs).items())
            schema = edges.select(
                F.col(src).alias("id"), F.col(dst).alias("component")
            ).schema
            return spark.createDataFrame(mapping, schema)
        # connected_components eagerly checkpoints its symmetrized copy
        # up front, so the persisted input is read exactly once there too
        # (unpersisting afterwards is safe: the loop reads the checkpoint)
        return connected_components(edges, src=src, dst=dst)
    finally:
        edges.unpersist()


def canonical_map(
    same_as: DataFrame, a: str = "a", b: str = "b", driver_threshold: int = 100_000
) -> DataFrame:
    """``(surface, canonical)`` for every surface in the SAME_AS graph,
    including identity rows for the representatives themselves: the
    :func:`components_adaptive` map under the names the readback joins on."""
    comp = components_adaptive(same_as, src=a, dst=b, driver_threshold=driver_threshold)
    return comp.select(F.col("id").alias("surface"), F.col("component").alias("canonical"))


def apply_canonical(
    df: DataFrame, mapping: DataFrame, col: str, out_col: str | None = None
) -> DataFrame:
    """Rewrite ``col`` through the canonical map (broadcast — the map is
    metadata-scale); unmapped values canonicalize to themselves."""
    out_col = out_col or col
    m = F.broadcast(mapping.withColumnRenamed("surface", "__s").withColumnRenamed("canonical", "__c"))
    return (
        df.join(m, df[col] == m["__s"], "left")
        .withColumn(out_col, F.coalesce(F.col("__c"), F.col(col)))
        .drop("__s", "__c")
    )
