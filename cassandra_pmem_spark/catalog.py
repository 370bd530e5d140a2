"""Table catalog: declared schemas + CQL-style key metadata.

The reference's schema system is fixed/declared (schema/TableMetadata.java:52,
ColumnMetadata.java:61-67 — PARTITION_KEY / CLUSTERING / REGULAR / STATIC
column kinds), never inferred. We mirror that: every driver table gets an
explicit StructType and a TableMeta declaring its partition key (grouping /
co-location key) and clustering key (intra-partition sort order, each column
ASC or DESC — ReversedType.java analog).

At 100 TB the partition-key declaration is what drives physical layout:
`repartition(pk)` before bucketed writes, broadcast decisions, and
shuffle-free groupBy(pk) plans.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@dataclass(frozen=True)
class ClusteringColumn:
    name: str
    ascending: bool = True  # False ≡ ReversedType (db/marshal/ReversedType.java)


@dataclass(frozen=True)
class TableMeta:
    """CQL-shaped table metadata (schema/TableMetadata.java:114-171).

    partition_key: columns hashed to a token in the reference
    (CompositeType for composites); here the grouping/co-location key.
    clustering: intra-partition sort order (ClusteringComparator analog).
    static_columns: functionally dependent on the partition key only
    (ColumnMetadata.Kind.STATIC).
    """

    name: str
    schema: T.StructType
    partition_key: tuple[str, ...]
    clustering: tuple[ClusteringColumn, ...] = ()
    static_columns: tuple[str, ...] = ()
    # Each column's declared CQL type text, as its statement wrote it
    # (lower-cased, ", " after commas) — (column, text) pairs, read
    # through cql_type(). The one record of what Spark's types erase:
    # the uuid/timeuuid/inet wire forms token() hashes (UUIDType/
    # TimeUUIDType 16-byte msb||lsb, InetAddressType address bytes), set
    # vs list, frozen, counter and user type names (cql/ddl.type_facts
    # derives those). Empty for tables no statement declared.
    cql_types: tuple[tuple[str, str], ...] = ()

    def cql_type(self, col: str) -> str | None:
        """`col`'s declared CQL type text; None when no statement
        declared it (the Spark type is then all there is)."""
        for c, t in self.cql_types:
            if c == col:
                return t
        return None

    @property
    def primary_key(self) -> tuple[str, ...]:
        return self.partition_key + tuple(c.name for c in self.clustering)

    @property
    def regular_columns(self) -> tuple[str, ...]:
        pk = set(self.primary_key) | set(self.static_columns)
        return tuple(f.name for f in self.schema.fields if f.name not in pk)


def column_map(old: TableMeta, new: TableMeta) -> dict[str, str]:
    """Where one ALTER moved each of `old`'s cells: old name -> new name.
    Equal column counts pair positionally (a RENAME keeps the column
    order); otherwise a column keeps its name, and one `new` lacks was
    dropped and has no entry. A struct column's fields map the same way
    under their "col#field" cell names, positionally over the common
    prefix of the two structs (ALTER TYPE ADD appends a field, ALTER
    TYPE RENAME renames one in place)."""
    o, n = old.schema.fieldNames(), new.schema.fieldNames()
    cols = dict(zip(o, n)) if len(o) == len(n) else {c: c for c in o if c in n}
    old_t = {f.name: f.dataType for f in old.schema.fields}
    new_t = {f.name: f.dataType for f in new.schema.fields}
    out = dict(cols)
    for oc, nc in cols.items():
        if isinstance(old_t[oc], T.StructType) and isinstance(new_t[nc], T.StructType):
            for of, nf in zip(old_t[oc].fields, new_t[nc].fields):
                out[f"{oc}#{of.name}"] = f"{nc}#{nf.name}"
    return out


def _s(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


TABLES: dict[str, TableMeta] = {
    "region": TableMeta(
        "region",
        _s(("r_regionkey", T.IntegerType()), ("r_name", T.StringType())),
        partition_key=("r_regionkey",),
    ),
    "nation": TableMeta(
        "nation",
        _s(
            ("n_nationkey", T.IntegerType()),
            ("n_name", T.StringType()),
            ("n_regionkey", T.IntegerType()),
        ),
        partition_key=("n_nationkey",),
    ),
    "customer": TableMeta(
        "customer",
        _s(
            ("c_custkey", T.LongType()),
            ("c_name", T.StringType()),
            ("c_nationkey", T.IntegerType()),
            ("c_acctbal", T.DoubleType()),
            ("c_mktsegment", T.StringType()),
        ),
        partition_key=("c_custkey",),
    ),
    "supplier": TableMeta(
        "supplier",
        _s(
            ("s_suppkey", T.LongType()),
            ("s_name", T.StringType()),
            ("s_nationkey", T.IntegerType()),
            ("s_acctbal", T.DoubleType()),
        ),
        partition_key=("s_suppkey",),
    ),
    "part": TableMeta(
        "part",
        _s(
            ("p_partkey", T.LongType()),
            ("p_name", T.StringType()),
            ("p_brand", T.StringType()),
            ("p_type", T.StringType()),
            ("p_size", T.IntegerType()),
            ("p_retailprice", T.DoubleType()),
        ),
        partition_key=("p_partkey",),
    ),
    "orders": TableMeta(
        "orders",
        _s(
            ("o_orderkey", T.LongType()),
            ("o_custkey", T.LongType()),
            ("o_orderstatus", T.StringType()),
            ("o_totalprice", T.DoubleType()),
            ("o_orderdate", T.TimestampType()),
            ("o_orderpriority", T.StringType()),
        ),
        # wide-partition model: all orders of a customer form one partition,
        # clustered by orderdate DESC then orderkey (timeuuid-ish pattern).
        partition_key=("o_custkey",),
        clustering=(ClusteringColumn("o_orderdate", ascending=False), ClusteringColumn("o_orderkey")),
    ),
    "lineitem": TableMeta(
        "lineitem",
        _s(
            ("l_orderkey", T.LongType()),
            ("l_partkey", T.LongType()),
            ("l_suppkey", T.LongType()),
            ("l_linenumber", T.IntegerType()),
            ("l_quantity", T.DoubleType()),
            ("l_extendedprice", T.DoubleType()),
            ("l_discount", T.DoubleType()),
            ("l_tax", T.DoubleType()),
            ("l_returnflag", T.StringType()),
            ("l_linestatus", T.StringType()),
            ("l_shipdate", T.TimestampType()),
        ),
        partition_key=("l_orderkey",),
        clustering=(ClusteringColumn("l_linenumber"),),
    ),
    "events": TableMeta(
        "events",
        _s(
            ("event_id", T.LongType()),
            ("ts", T.TimestampType()),
            ("user_id", T.LongType()),
            ("event_type", T.StringType()),
            ("value", T.DoubleType()),
            ("props", T.StringType()),  # JSON text — fromjson() territory
        ),
        partition_key=("user_id",),
        clustering=(ClusteringColumn("ts"), ClusteringColumn("event_id")),
    ),
    "documents": TableMeta(
        "documents",
        _s(
            ("doc_id", T.LongType()),
            ("text", T.StringType()),
            ("lang", T.StringType()),
            ("source", T.StringType()),
            ("n_chars", T.LongType()),
        ),
        partition_key=("doc_id",),
    ),
    "embeddings": TableMeta(
        "embeddings",
        _s(
            ("vec_id", T.LongType()),
            ("embedding", T.ArrayType(T.FloatType())),
            ("label", T.IntegerType()),
        ),
        partition_key=("vec_id",),
    ),
}


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one driver parquet table.

    We pass the declared schema so column pruning/pushdown work against a
    known shape and no inference pass runs (SURVEY §1.1: schemas are
    declared, system_schema-style, never inferred).
    """
    meta = TABLES[name]
    return spark.read.schema(meta.schema).parquet(f"{sf_dir}/{name}.parquet")


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register: bool = True
) -> dict[str, DataFrame]:
    """Load all driver tables; optionally register temp views for spark.sql."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, name, sf_dir)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
