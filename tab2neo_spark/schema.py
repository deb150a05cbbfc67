"""Core table schemas and the deterministic-id discipline.

The reference stores everything as Neo4j nodes/relationships and leans on
server-assigned ``id(n)`` (nondeterministic) threaded through pandas columns
as ``_id_<SHORT>`` (reference: model_appliers/model_applier.py:259-295,
derivation_method/action.py:1539-1547).  A distributed engine cannot use
nondeterministic ids: re-runs and resumed runs must produce the same graph.
We derive every node id from content — the same idea the reference's own
BuildUri action applies for URIs (action.py:2042-2075) — with
``xxhash64(class, canonical_key)``.

Tables (parquet at rest; Iceberg when the runtime has the jars — see
kg/materialize.py):

- ``pages(url, warc_ts, html, text, lang)``   the input (BASELINE input_hint)
- ``nodes(node_id, class, rdfs_label, uri, props)``
- ``edges(src, rel_type, dst)``
- ``triples(subj, pred, obj)``                flattened readback view
- ``checkpoint(run_id, stage, partition_id, row_count, status, payload)``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

NODES_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("class", T.StringType(), False),
        # single canonical value property, the reference's RDFSLABEL constant
        # (model_managers/model_manager.py:26)
        T.StructField("rdfs_label", T.StringType(), True),
        T.StructField("uri", T.StringType(), True),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("rel_type", T.StringType(), False),
        T.StructField("dst", T.LongType(), False),
    ]
)

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
    ]
)

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("row_count", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("payload", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Deterministic ids / URIs
# ---------------------------------------------------------------------------

URI_SEP = "/"


def node_uri(class_label: str, *key_cols: Column | str) -> Column:
    """Deterministic URI for an entity node: ``<Class>_by_<k1>/<k2>...``.

    Mirrors the reference BuildUri convention
    (derivation_method/action.py:2042-2075): prefix + class + joined key
    values. Pure column expression — no UDF.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return F.concat_ws(URI_SEP, F.lit(f"{class_label}_by"), *cols)


def node_uri_col(class_col: Column, *key_cols: Column) -> Column:
    """:func:`node_uri` where the class label is itself a column."""
    return F.concat_ws(URI_SEP, F.concat(class_col, F.lit("_by")), *key_cols)


def node_id_from_uri(uri: Column) -> Column:
    """64-bit deterministic node id from a URI string (xxhash64, JVM-side)."""
    return F.xxhash64(uri)


def node_id(class_label: str, *key_cols: Column | str) -> Column:
    """``xxhash64(class, key...)`` — replaces Neo4j's ``id(n)``."""
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return F.xxhash64(F.lit(class_label), *cols)


def empty_df(spark, schema: T.StructType) -> DataFrame:
    return spark.createDataFrame([], schema)
