"""airbyte_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the replication semantics of the reference
(Airbyte OSS v0.40.26): change-feed tail -> dedup-by-cursor -> upsert into an
ACID lake table with schema evolution, exactly-once commit fencing, and
per-partition lineage — built on the Spark DataFrame API + Structured
Streaming (no RDDs, no per-row Python UDFs).

Subpackages
-----------
catalog    : stream catalog, JSON-schema->Spark type rules, schema diff
lake       : ACID parquet + JSON-commit-log table format (bucketed,
             copy-on-write MERGE, tombstones, fencing, lineage)
feedgen    : deterministic synthetic WAL/binlog segment generator
functions  : text canonicalization (one Catalyst expression, with a
             pandas oracle) and identifier-name canonicalization
operators  : batch operators — window dedup / SCD2, CDC event projection,
             cursor scans
streaming  : Structured Streaming replay runner (foreachBatch + MERGE)
ops        : text-curation ops beside the engine (no CDC path uses them) —
             exact/fuzzy dedup (MinHash-LSH, SimHash, n-gram Jaccard), text
             analysis, corpus curation
"""

__version__ = "0.1.0"
