"""Virtual tables — programmatic in-memory datasets computed on read
(db/virtual/AbstractVirtualTable.java:43,76,89; SimpleDataSet.java;
registered system views under db/virtual/SystemViewsKeyspace.java).

Spark analog: build a DataFrame from driver-side rows and register it as a
temp view. Virtual tables are tiny by construction (system state), so
driver-side construction is correct here — this is the one deliberate
exception to the no-driver-materialization rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from cassandra_pmem_spark.catalog import TABLES


def simple_dataset(
    spark: SparkSession, rows: list[tuple], schema: T.StructType, view_name: str | None = None
) -> DataFrame:
    """SimpleDataSet analog: rows + declared schema → DataFrame (+ view)."""
    df = spark.createDataFrame(rows, schema)
    if view_name:
        df.createOrReplaceTempView(view_name)
    return df


_SYSTEM_TABLES_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("n_columns", T.IntegerType()),
        T.StructField("partition_key", T.StringType()),
        T.StructField("clustering", T.StringType()),
    ]
)


def system_tables_rows() -> list[tuple]:
    """Deterministic metadata rows for the `system_schema.tables`-style view
    (schema/TableMetadata.java; virtual SystemViewsKeyspace)."""
    rows = []
    for name in sorted(TABLES):
        m = TABLES[name]
        ck = ",".join(
            f"{c.name}:{'ASC' if c.ascending else 'DESC'}" for c in m.clustering
        )
        rows.append((name, len(m.schema.fields), ",".join(m.partition_key), ck))
    return rows


def system_tables(spark: SparkSession) -> DataFrame:
    """The engine's `system_schema.tables` virtual table."""
    return simple_dataset(spark, system_tables_rows(), _SYSTEM_TABLES_SCHEMA, "system_tables")


def system_tables_oracle_sql() -> str:
    """Literal-VALUES oracle for the virtual table (both sides derive from
    the same catalog, so the check verifies the Spark construction path)."""
    vals = ", ".join(
        f"('{n}', {c}, '{pk}', '{ck}')" for n, c, pk, ck in system_tables_rows()
    )
    return (
        f"SELECT * FROM (VALUES {vals}) "
        "AS t(table_name, n_columns, partition_key, clustering)"
    )


# -- system_schema keyspace (schema/SchemaKeyspace.java:124 TABLES/COLUMNS/
# TYPES/INDEXES): the introspection tables every driver reads. Unlike the
# virtual system views above (fixture-level), these derive from a LIVE
# CqlDatabase registry — DDL is immediately visible to SELECTs.

def system_schema_frame(spark: SparkSession, registry, name: str) -> tuple:
    """(DataFrame, TableMeta) for one system_schema table reflecting the
    registry's CURRENT state. Tiny by construction — the deliberate
    driver-side exception, like every virtual table."""
    from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta

    if name == "tables":
        schema = T.StructType(
            [
                T.StructField("keyspace_name", T.StringType()),
                T.StructField("table_name", T.StringType()),
            ]
        )
        rows = sorted((ks or "", t) for (ks, t) in registry.tables)
        meta = TableMeta(
            "tables", schema, partition_key=("keyspace_name",),
            clustering=(ClusteringColumn("table_name"),),
        )
    elif name == "columns":
        schema = T.StructType(
            [
                T.StructField("keyspace_name", T.StringType()),
                T.StructField("table_name", T.StringType()),
                T.StructField("column_name", T.StringType()),
                T.StructField("kind", T.StringType()),
                T.StructField("position", T.IntegerType()),
                T.StructField("type", T.StringType()),
            ]
        )
        rows = []
        for key in sorted(registry.tables, key=lambda k: (k[0] or "", k[1])):
            m = registry.tables[key]
            ck_names = [c.name for c in m.clustering]
            for f in m.schema.fields:
                c = f.name
                if c in m.partition_key:
                    kind, pos = "partition_key", m.partition_key.index(c)
                elif c in ck_names:
                    kind, pos = "clustering", ck_names.index(c)
                elif c in m.static_columns:
                    kind, pos = "static", -1
                else:
                    kind, pos = "regular", -1
                rows.append((key[0] or "", key[1], c, kind, pos, m.cql_type(c)))
        meta = TableMeta(
            "columns", schema, partition_key=("keyspace_name",),
            clustering=(
                ClusteringColumn("table_name"), ClusteringColumn("column_name"),
            ),
        )
    elif name == "types":
        schema = T.StructType(
            [
                T.StructField("keyspace_name", T.StringType()),
                T.StructField("type_name", T.StringType()),
                T.StructField("field_names", T.StringType()),
                T.StructField("field_types", T.StringType()),
            ]
        )
        rows = [
            (
                registry.type_keyspaces.get(tn) or "",
                tn,
                ",".join(st.fieldNames()),
                ",".join(
                    registry.type_field_text[tn][f.name] for f in st.fields
                ),
            )
            for tn, st in sorted(registry.types.items())
        ]
        meta = TableMeta(
            "types", schema, partition_key=("keyspace_name",),
            clustering=(ClusteringColumn("type_name"),),
        )
    elif name == "indexes":
        schema = T.StructType(
            [
                T.StructField("keyspace_name", T.StringType()),
                T.StructField("table_name", T.StringType()),
                T.StructField("index_name", T.StringType()),
                # IndexMetadata.Kind (SchemaKeyspace indexes table) plus
                # the stored options map — 'target' + 'class_name' and
                # custom options, rendered as sorted-JSON text so the
                # frame stays scalar/sortable
                T.StructField("kind", T.StringType()),
                T.StructField("target", T.StringType()),
                T.StructField("options", T.StringType()),
            ]
        )
        import json as _json

        from cassandra_pmem_spark.cql.ddl import index_target_text

        def _opts(im) -> str:
            m = dict(getattr(im, "options", {}) or {})
            m["target"] = index_target_text(im)
            if im.custom_class:
                m["class_name"] = im.custom_class
            return _json.dumps(dict(sorted(m.items())), separators=(", ", ": "))

        rows = sorted(
            (
                im.table[0] or "",
                im.table[1],
                im.name or f"{im.table[1]}_{im.column}_idx",
                "CUSTOM" if im.custom_class else "COMPOSITES",
                index_target_text(im),
                _opts(im),
            )
            for im in registry.indexes.values()
        )
        meta = TableMeta(
            "indexes", schema, partition_key=("keyspace_name",),
            clustering=(
                ClusteringColumn("table_name"), ClusteringColumn("index_name"),
            ),
        )
    elif name == "triggers":
        # SchemaKeyspace.java:170-178: (keyspace_name, table_name,
        # trigger_name, options frozen<map<text,text>>) with the single
        # 'class' option (TriggerMetadata.java:26-32); rendered as
        # sorted-JSON text like the indexes options column
        schema = T.StructType(
            [
                T.StructField("keyspace_name", T.StringType()),
                T.StructField("table_name", T.StringType()),
                T.StructField("trigger_name", T.StringType()),
                T.StructField("options", T.StringType()),
            ]
        )
        import json as _json

        rows = sorted(
            (
                tkey[0] or "",
                tkey[1],
                tg_name,
                _json.dumps({"class": tg_cls}, separators=(", ", ": ")),
            )
            for tkey, per in registry.triggers.items()
            for tg_name, tg_cls in per.items()
        )
        meta = TableMeta(
            "triggers", schema, partition_key=("keyspace_name",),
            clustering=(
                ClusteringColumn("table_name"), ClusteringColumn("trigger_name"),
            ),
        )
    else:
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        raise InvalidRequest(f"unknown system_schema table {name!r}")
    df = spark.createDataFrame(rows, schema)
    return df, meta
