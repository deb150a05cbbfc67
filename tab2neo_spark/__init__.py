"""tab2neo_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimagination of GSK-Biostatistics/tab2neo's table-to-graph
pipeline (reference at /root/reference, read-only) for Spark:

- Neo4j property graph            -> partitioned parquet node/edge/triple tables
- Cypher codegen (QueryBuilder)   -> DataFrame/Catalyst logical plans
- Neo4j MERGE dedup               -> deterministic ids + connected-components canonicalization
- derivation-method DAG           -> declarative pipeline of DataFrame stages w/ checkpoints
- pandas in-flight                -> Spark DataFrames; pandas only inside Arrow UDF islands

Subpackages
-----------
- ``schema``     core table schemas + deterministic id discipline
- ``model``      metadata model (Class/Relationship/Term), closure, infer_rels
- ``extract``    byte-identical html->text extraction, mention detection
- ``kg``         entity linking, canonicalization (CC), graph materialization
- ``operators``  readback predicate/join/agg compilers + training-data ops
- ``pipeline``   derivation-DAG runner (spec -> DataFrame stages) with lineage
- ``sources``    file/dir loaders, type conversion (SAS dates etc.)
- ``streaming``  structured-streaming ingestion of page drops
"""

__version__ = "0.1.0"
