"""syntenybrowserv2_etl_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of TheJacksonLaboratory/syntenybrowserv2-etl.

The reference (read-only at /root/reference) is a row-at-a-time Python/SQLite
ETL for the JAX Synteny Browser. This engine re-expresses every capability
Spark-first: declarative DataFrame plans that Catalyst optimizes (pushdown,
pruning, join selection, whole-stage codegen), with deliberate physical
choices (partition/sort layout, broadcast dims, equi-prefixed range joins,
checkpointed iterative closure) for 100 TB-scale execution.

Layout:
    session.py    SparkSession factory (AQE, shuffle sizing, UTC)
    schemas.py    the nine output tables' StructTypes + raw-source schemas
    functions/    column-level transforms (SURVEY P1-P13, F1-F6) + hashing
    sources/      file-format readers (GFF3, TSV, VCF, OBO, GAF) + writers
    operators/    shape ops, transitive closure, range join, dedup,
                  similarity search, text analysis
    plans/        the seven loaders + full-pipeline driver
    streaming/    Structured Streaming over event streams
    queries.py    demo-query registry (Spark callable + DuckDB oracle SQL)
"""

__version__ = "0.1.0"
