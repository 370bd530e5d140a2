"""cassandra_pmem_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of intel/cassandra-pmem (Apache Cassandra
4.0 fork), re-expressed Spark-first.

The reference (at /root/reference) is a row-oriented LSM OLTP engine whose
queryable surface is CQL 3 (Cassandra 4.0). This package reproduces those
*read semantics* — projections, restrictions, clustering-order sorts, limits
(incl. PER PARTITION LIMIT), DISTINCT-partitions, aggregates, collections,
JSON, writetime/TTL, token ordering, upsert/tombstone/LWW write emulation —
as declarative DataFrame plans that Catalyst can optimize, and extends them
with the large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns) that a 100 TB deployment needs.

Design stance (see SURVEY.md §7): no custom Catalyst rules, no RDDs, no
driver-side loops; every operator is a composition of built-in
pyspark.sql.functions (JVM/codegen path) unless semantics genuinely require
an Arrow-batched pandas UDF.
"""

__all__ = [
    "get_spark",
    "load_table",
    "load_tables",
    "TABLE_NAMES",
    "cql_table",
    "execute_cql",
    "CqlWriteSession",
]
__version__ = "0.1.0"


def __getattr__(name):
    # lazy: the package itself imports no pyspark, so the worker daemon
    # (worker_daemon.py) runs before pyspark is first imported
    if name == "get_spark":
        from cassandra_pmem_spark.session import get_spark

        return get_spark
    if name in ("load_table", "load_tables", "TABLE_NAMES"):
        from cassandra_pmem_spark import catalog

        return getattr(catalog, name)
    if name == "cql_table":
        from cassandra_pmem_spark.cql.table import cql_table

        return cql_table
    if name == "execute_cql":
        from cassandra_pmem_spark.cql.parser import execute_cql

        return execute_cql
    if name == "CqlWriteSession":
        from cassandra_pmem_spark.cql.writes import CqlWriteSession

        return CqlWriteSession
    raise AttributeError(name)
