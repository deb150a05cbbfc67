"""Skew-handling utilities: salted aggregation/repartition for hot keys.

North-rule mandate: head entities and hot domains skew the shuffle; the
engine handles them with salted repartitioning plus AQE skew-join
(spark.sql.adaptive.skewJoin.enabled is on in session.py — AQE splits
oversized post-shuffle partitions of sort-merge joins at runtime).

Salting covers the cases AQE does not: aggregations over a hot key, and
exact per-key results where a single reducer would otherwise own a head
key's entire volume. Pattern: two-level aggregation — partial aggregate on
(key, salt), then final aggregate on key. For ALGEBRAIC aggregates
(count/sum/min/max) Spark's partial aggregation already does this
implicitly; the explicit form is needed for HOLISTIC ones (collect_set,
exact distinct counts per key) where the reduce side would receive the
full value set of a hot key.

The reference has no equivalent — Neo4j chokes and falls back from
parallel to serial batches instead (model_appliers/model_applier.py:394-399).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count_distinct(
    df: DataFrame, keys: Sequence[str], value_col: str, buckets: int = 32
) -> DataFrame:
    """Exact distinct count per key without shipping a hot key's whole
    value set to one reducer:

      level 1: distinct on (key, salt(value), value)  — hot key spread
               over ``buckets`` reducers, each deduping its value slice
      level 2: count per key                           — tiny

    Salt = hash(value) % buckets, so equal values land in the same bucket
    and level-1 distinct remains globally correct.
    """
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(buckets))
    lvl1 = (
        df.select(*keys, F.col(value_col), salt.alias("_salt"))
        .groupBy(*keys, "_salt")
        .agg(F.countDistinct(value_col).alias("_part"))
    )
    return lvl1.groupBy(*keys).agg(F.sum("_part").cast("long").alias(f"n_distinct_{value_col}"))


def salted_collect_set(
    df: DataFrame, keys: Sequence[str], value_col: str, buckets: int = 16
) -> DataFrame:
    """collect_set per key via two levels: per-(key, salt) sets, then a
    flatten+dedup merge — the hot key's set is built by ``buckets``
    reducers instead of one."""
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(buckets))
    lvl1 = (
        df.select(*keys, F.col(value_col), salt.alias("_salt"))
        .groupBy(*keys, "_salt")
        .agg(F.collect_set(value_col).alias("_part"))
    )
    return lvl1.groupBy(*keys).agg(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("_part")))).alias(
            f"{value_col}s"
        )
    )


def salted_join_hot_keys(
    big: DataFrame,
    small: DataFrame,
    key: str,
    hot_keys: Sequence,
    buckets: int = 8,
) -> DataFrame:
    """Classic salted join for an enumerated hot-key set: the big side gets
    a random-ish salt on hot keys (0 elsewhere), the small side explodes
    hot rows into all salt values — hot keys spread over ``buckets``
    reducers, cold keys keep a 1-row replication.

    Prefer AQE skew-join when it applies (sort-merge joins); this is the
    explicit fallback for when the skew is known up front (head entities,
    hot domains) or for hash joins AQE can't split."""
    big_salted = big.withColumn(
        "_salt",
        F.when(
            F.col(key).isin(list(hot_keys)),
            F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(buckets)),
        ).otherwise(F.lit(0)).cast("int"),
    )
    salts = F.when(
        F.col(key).isin(list(hot_keys)), F.sequence(F.lit(0), F.lit(buckets - 1))
    ).otherwise(F.sequence(F.lit(0), F.lit(0)))
    small_exploded = small.withColumn("_salt", F.explode(salts)).withColumn(
        "_salt", F.col("_salt").cast("int")
    )
    return big_salted.join(small_exploded, [key, "_salt"]).drop("_salt")
