"""Write-path registry queries: the CQL mutation surface driven end-to-end
through statement TEXT (parse → validate → apply → merged read), each with a
DuckDB oracle that mirrors the tombstone/LWW/condition semantics in plain SQL.

These convert the write-model rows of SURVEY §2.9/§2.11 (DELETE tombstones,
LWT, BATCH, TRUNCATE, CREATE FUNCTION, MV maintenance) from pytest-only
evidence into driver-gated oracle rows. The mutation *statements* are a
handful of driver-side literals (bounded, O(1)); the data path — merge,
shadowing, anti-join, aggregation — is all DataFrame ops and scales with the
cluster (operators/upsert.py header documents the 100 TB posture).

Key choices for cross-SF determinism:
- inserted keys are negative (driver keys are non-negative at every SF), so
  literal UNION rows in the oracle can't collide with base rows;
- deletes/cell-deletes are mirrored with WHERE NOT(...)/CASE, correct whether
  or not the targeted key exists at a given SF;
- LWT conditions are re-evaluated BY THE ORACLE on the same data
  (EXISTS / CASE on the condition column), so data-dependent outcomes match
  at any scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_pmem_spark.catalog import TABLES, ClusteringColumn, TableMeta, load_table
from cassandra_pmem_spark.cql.writes import CqlWriteSession

# The synthetic lineitem is NOT pk-unique on (l_orderkey, l_linenumber)
# (6000 rows / 4599 distinct pairs at sf0.001), so tombstone queries run
# against a derived pk-unique projection — the aggregation is mirrored in
# the oracle's CTE, keeping the write-model comparison exact.
_LI_META = TableMeta(
    "lineitem_q",
    T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
        ]
    ),
    partition_key=("l_orderkey",),
    clustering=(ClusteringColumn("l_linenumber"),),
)


def cql_delete_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE tombstones via statement text (db/RangeTombstone.java,
    db/DeletionTime.java; cql3/statements/DeleteStatement.java): a row
    tombstone, a clustering-range tombstone, a cell tombstone, then a
    delete-then-reinsert resurrection — newer cells outlive the shadow
    (Rows.java merge), older cells stay dead."""
    base = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_orderkey") < 100)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.max("l_quantity").alias("l_quantity"),
            F.max("l_returnflag").alias("l_returnflag"),
        )
    )
    s = CqlWriteSession(spark, _LI_META, base=base)
    # t1: row tombstone on (1,1)
    s.execute("DELETE FROM lineitem WHERE l_orderkey = 1 AND l_linenumber = 1")
    # t2: range tombstone — partition 7, clustering l_linenumber >= 3
    s.execute("DELETE FROM lineitem WHERE l_orderkey = 7 AND l_linenumber >= 3")
    # t3: cell tombstone on (3,1).l_returnflag
    s.execute("DELETE l_returnflag FROM lineitem WHERE l_orderkey = 3 AND l_linenumber = 1")
    # t4: resurrection — only the two re-written cells come back
    s.execute(
        "INSERT INTO lineitem (l_orderkey, l_linenumber, l_quantity, l_returnflag) "
        "VALUES (1, 1, 42.0, 'R')"
    )
    return s.table().select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("qty"),
        F.col("l_returnflag").alias("rflag"),
    )


_DELETE_TOMBSTONES_ORACLE = """
WITH b AS (
  SELECT l_orderkey, l_linenumber,
         max(l_quantity) AS l_quantity, max(l_returnflag) AS l_returnflag
  FROM lineitem WHERE l_orderkey < 100 GROUP BY 1, 2
)
SELECT l_orderkey, l_linenumber,
       l_quantity AS qty,
       CASE WHEN l_orderkey = 3 AND l_linenumber = 1 THEN NULL
            ELSE l_returnflag END AS rflag
FROM b
WHERE NOT (l_orderkey = 1 AND l_linenumber = 1)
  AND NOT (l_orderkey = 7 AND l_linenumber >= 3)
UNION ALL
SELECT 1, 1, CAST(42.0 AS DOUBLE), 'R'
"""


def cql_lwt_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWT compare semantics via statement text (ColumnCondition.Bound
    .appliesTo:228; ModificationStatement.executeWithCondition:480):
    IF NOT EXISTS against a live row (rejected), against a fresh key
    (applied), a column condition evaluated on current data, and IF EXISTS
    on the row the session itself created. The oracle re-evaluates every
    condition in SQL on the same data, so outcomes match at any SF."""
    base = load_table(spark, "customer", sf_dir).filter(F.col("c_custkey") < 50)
    s = CqlWriteSession(spark, TABLES["customer"], base=base)
    s.execute(
        "INSERT INTO customer (c_custkey, c_name, c_acctbal) "
        "VALUES (1, 'upstart', 0.0) IF NOT EXISTS"
    )
    s.execute(
        "INSERT INTO customer (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment) "
        "VALUES (-9001, 'fresh', 1, 10.0, 'BUILDING') IF NOT EXISTS"
    )
    s.execute(
        "UPDATE customer SET c_mktsegment = 'MACHINERY' "
        "WHERE c_custkey = 2 IF c_acctbal > 1000.0"
    )
    s.execute("UPDATE customer SET c_acctbal = 999.0 WHERE c_custkey = -9001 IF EXISTS")
    return s.table().select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )


_LWT_ORACLE = """
SELECT c_custkey, c_name, c_acctbal AS bal,
       CASE WHEN c_custkey = 2 AND c_acctbal > 1000.0 THEN 'MACHINERY'
            ELSE c_mktsegment END AS seg
FROM customer WHERE c_custkey < 50
UNION ALL
SELECT -9001, 'fresh', CAST(999.0 AS DOUBLE), 'BUILDING'
UNION ALL  -- the IF NOT EXISTS insert, applied only when key 1 is absent
SELECT 1, 'upstart', CAST(0.0 AS DOUBLE), NULL
WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = 1)
"""


def cql_batch_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH with one coordinator timestamp (BatchStatement.java:56;
    CASSANDRA-6123 ordering): every inner statement stamps ts=100, so the
    insert-then-delete of key -2 nets to deleted (tombstone beats live cell
    at the shared timestamp), while bind markers flow through one shared
    param cursor across inner statements."""
    base = load_table(spark, "customer", sf_dir).filter(F.col("c_custkey") < 50)
    s = CqlWriteSession(spark, TABLES["customer"], base=base)
    s.execute(
        "BEGIN BATCH USING TIMESTAMP 100 "
        "INSERT INTO customer (c_custkey, c_name, c_nationkey, c_acctbal, "
        "c_mktsegment) VALUES (-1, 'batch-one', 3, 1000.5, 'AUTOMOBILE'); "
        "INSERT INTO customer (c_custkey, c_name, c_acctbal) "
        "VALUES (-2, 'doomed', 2000.5); "
        "DELETE FROM customer WHERE c_custkey = -2; "
        "UPDATE customer SET c_mktsegment = ? WHERE c_custkey = 5; "
        "APPLY BATCH",
        params=["FURNITURE"],
    )
    return s.table().select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )


_BATCH_ORACLE = """
SELECT c_custkey, c_name, c_acctbal AS bal,
       CASE WHEN c_custkey = 5 THEN 'FURNITURE' ELSE c_mktsegment END AS seg
FROM customer WHERE c_custkey < 50
UNION ALL
SELECT -1, 'batch-one', CAST(1000.5 AS DOUBLE), 'AUTOMOBILE'
"""


def cql_truncate_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATE drops all state — base, mutations, and tombstones
    (cql3/statements/TruncateStatement.java) — then fresh INSERTs repopulate
    an empty table."""
    base = load_table(spark, "region", sf_dir)
    s = CqlWriteSession(spark, TABLES["region"], base=base)
    s.execute("INSERT INTO region (r_regionkey, r_name) VALUES (-5, 'DOOMED')")
    s.execute("TRUNCATE region")
    s.execute("INSERT INTO region (r_regionkey, r_name) VALUES (10, 'NORTHERN')")
    s.execute("INSERT INTO region (r_regionkey, r_name) VALUES (11, 'SOUTHERN')")
    s.execute("INSERT INTO region (r_regionkey, r_name) VALUES (12, 'WESTERN')")
    return s.table().select("r_regionkey", "r_name")


_TRUNCATE_ORACLE = """
SELECT * FROM (VALUES (10, 'NORTHERN'), (11, 'SOUTHERN'), (12, 'WESTERN'))
  t(r_regionkey, r_name)
"""


def cql_udf_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE FUNCTION analog end-to-end (cql3/functions/UDFunction.java:69;
    grammar createFunction rule): an Arrow-batched pandas UDF (the fast
    path) bands order totals, and a RETURNS NULL ON NULL INPUT scalar UDF
    short-circuits nulls without invoking the body
    (UDFunction.java `calledOnNullInput`). UDFs are the declared slow path
    (SURVEY §3) — this row pins their *semantics*; hot paths use built-ins."""
    import pandas as pd

    from cassandra_pmem_spark.functions.udf import create_function, create_pandas_function

    # no type annotations: this module's `from __future__ import annotations`
    # would stringify them and pandas_udf can't resolve string hints here
    def band(s):
        import numpy as np

        return pd.Series(
            np.where(s > 200000, "high", np.where(s > 100000, "mid", "low")), dtype=object
        )

    create_pandas_function(spark, "cps_band", band, T.StringType())
    create_function(
        spark,
        "cps_urgency",
        lambda p: int(p.split("-")[0]),
        T.IntegerType(),
        called_on_null_input=False,  # RETURNS NULL ON NULL INPUT
    )
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.withColumn("band", F.expr("cps_band(o_totalprice)"))
        .withColumn("urgency", F.expr("cps_urgency(nullif(o_orderpriority, '5-LOW'))"))
        .groupBy("band", "urgency")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )
    )


_UDF_ORACLE = """
SELECT CASE WHEN o_totalprice > 200000 THEN 'high'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'low' END AS band,
       CASE WHEN o_orderpriority = '5-LOW' THEN NULL
            ELSE CAST(substr(o_orderpriority, 1, 1) AS INT) END AS urgency,
       COUNT(*) AS n,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY 1, 2
"""


def mv_refresh_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view derivation (db/view/View.java,
    ViewUpdateGenerator.java:45): re-key the events base to the view PK
    (user_id, day) and LWW-collapse — the SAME upsert_lww_rows merge the
    incremental foreachBatch maintainer replays per micro-batch
    (streaming/mv.py:30, unit-tested), so batch and streaming share one
    merge implementation. Writetime = event_id (unique, monotone), making
    the newest-event-per-(user, day) pick exactly deterministic."""
    from cassandra_pmem_spark.streaming.mv import refresh_view_batch

    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        # day as midnight TIMESTAMP: Spark DateType collects as pandas
        # `object` vs DuckDB datetime64 — silence the permanent gate
        # dtype warning (both sides cast; the view key is unchanged)
        F.to_date("ts").cast("timestamp").alias("day"),
        "event_type",
        "value",
        F.col("event_id").alias("writetime"),
    )
    return refresh_view_batch(ev, view_key=["user_id", "day"], writetime_col="writetime")


_MV_ORACLE = """
SELECT user_id, day, event_type, value, writetime FROM (
  SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, event_type, value,
         event_id AS writetime,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed layout (sources/bucketing.py — the
    dht/Murmur3Partitioner.java data-co-location analog): both sides are
    written bucketed on the join key, so the sort-merge join plans with NO
    Exchange (asserted in test_plans.py). At 100 TB this converts the
    per-query lineitem⋈orders shuffle into one write-time shuffle amortized
    over every downstream query."""
    import os
    import shutil

    from cassandra_pmem_spark.sources.bucketing import bucketize, co_located_join

    tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    lt, rt = f"cps_b_orders_{tag}", f"cps_b_lineitem_{tag}"
    # managed-table locations outlive the in-memory catalog: a fresh session
    # doesn't know the table but its directory still exists, so saveAsTable
    # raises LOCATION_ALREADY_EXISTS — drop both the entry and the location
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for t in (lt, rt):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh.removeprefix("file:"), t), ignore_errors=True)
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 5000)
    li = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_orderkey") < 5000)
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    bucketize(orders, lt, ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"])
    bucketize(li, rt, ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"])
    joined = co_located_join(spark, lt, rt, on=["o_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
        ).alias("cents"),
    )


_BUCKETED_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderkey < 5000
GROUP BY 1
"""


_MAP_META = TableMeta(
    "user_props",
    T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("m", T.MapType(T.StringType(), T.LongType(), True)),
        ]
    ),
    partition_key=("user_id",),
)


def cql_map_cell_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEMENT-form per-cell map liveness (Maps.SetterByKey:349 /
    DiscarderByKey; db/rows/Cell.java one liveness per entry;
    WritetimeOrTTLSelector over element selection): the base maps come
    from the events log (latest cents per event_type, full-map writes at
    writetime 0), then three bounded element statements mutate single
    CELLS — overwrite m['click'], create m['bonus'], delete m['view'] —
    and the read runs through the parsed SELECT with WRITETIME(m['k'])
    element selectors. The oracle replays the same cell stream (base
    cells at wt 0 + the literal mutations) through SQL LWW and must
    reproduce maps AND per-cell writetimes exactly."""
    from cassandra_pmem_spark.cql.parser import _compile, parse_select
    from cassandra_pmem_spark.cql.table import CqlTable

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 40)
    cents = F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("long")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.max_by(cents, "event_id").alias("cents")
    )
    base = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cents")))
        ).alias("m")
    )
    sess = CqlWriteSession(spark, _MAP_META, base=base)
    sess.execute("UPDATE user_props USING TIMESTAMP 1000 SET m['click'] = -1 WHERE user_id = 1")
    sess.execute("UPDATE user_props USING TIMESTAMP 1001 SET m['bonus'] = 777 WHERE user_id = 2")
    sess.execute("DELETE m['view'] FROM user_props USING TIMESTAMP 1002 WHERE user_id = 3")
    st = parse_select(
        "SELECT user_id, m, writetime(m['click']) AS click_wt, "
        "writetime(m['bonus']) AS bonus_wt FROM user_props",
        [],
    )
    df = _compile(
        CqlTable(
            sess.table(now=sess._clock_ref[0], with_shadows=True), _MAP_META, False
        ),
        st,
    )
    # driver-facing scalars: the map joins to a key-sorted string
    ent = F.array_sort(F.map_entries("m"))
    return df.select(
        "user_id",
        F.array_join(
            F.transform(ent, lambda e: F.concat(e["key"], F.lit(":"), e["value"].cast("string"))),
            ",",
        ).alias("map_col"),
        "click_wt",
        "bonus_wt",
    )


_MAP_CELL_ORACLE = """
WITH cents AS (
  SELECT user_id, event_type,
         arg_max(CAST(floor(coalesce(value, 0) * 100) AS BIGINT), event_id) AS cents
  FROM events WHERE user_id < 40 GROUP BY user_id, event_type
), cells AS (
  SELECT user_id, event_type AS k, cents AS v, 0 AS wt FROM cents
  UNION ALL SELECT 1, 'click', -1, 1000
  UNION ALL SELECT 2, 'bonus', 777, 1001
), ranked AS (
  SELECT user_id, k, v, wt,
         row_number() OVER (PARTITION BY user_id, k ORDER BY wt DESC) AS rn
  FROM cells
), live AS (
  SELECT user_id, k, v, wt FROM ranked
  WHERE rn = 1 AND NOT (user_id = 3 AND k = 'view')
)
SELECT user_id,
       string_agg(k || ':' || v::VARCHAR, ',' ORDER BY k) AS map_col,
       max(CASE WHEN k = 'click' THEN wt END) AS click_wt,
       max(CASE WHEN k = 'bonus' THEN wt END) AS bonus_wt
FROM live
GROUP BY user_id
"""


_CT_META = TableMeta(
    "ct",
    T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("l", T.ArrayType(T.StringType())),
            T.StructField("s", T.ArrayType(T.StringType())),
            T.StructField("m", T.MapType(T.StringType(), T.LongType(), True)),
        ]
    ),
    partition_key=("user_id",),
    cql_types=(("l", "list<text>"), ("s", "set<text>"), ("m", "map<text, bigint>")),
)


def cql_collection_text_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full TEXTUAL collection mutation surface in one statement-driven
    query (cql3/Operation.java:155-497 — Lists.Appender/Prepender/
    SetterByIndex/DiscarderByIndex, Sets.Adder/Discarder, Maps.Putter/
    DiscarderByKey): per-user list/set/map built from the events log as
    the session base, then eight bounded statements exercise append,
    prepend, set add/discard, map put/key-removal, and the
    read-before-write list index ops. The oracle rebuilds the base and
    applies each op as a per-user CASE — results must match element for
    element, order for order."""
    from cassandra_pmem_spark.operators.collections import sorted_entries

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 30)
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
        lambda x: x["event_type"],
    )
    lists = ev.groupBy("user_id").agg(
        seq.alias("l"), F.array_sort(F.collect_set("event_type")).alias("s")
    )
    cents = F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("long")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.max_by(cents, "event_id").alias("cents")
    )
    maps = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cents")))
        ).alias("m")
    )
    base = lists.join(maps, "user_id")
    sess = CqlWriteSession(spark, _CT_META, base=base)
    sess.execute("UPDATE ct SET l = l + ['end'] WHERE user_id = 1")
    sess.execute("UPDATE ct SET l = ['start'] + l WHERE user_id = 2")
    sess.execute("UPDATE ct SET s = s + {'extra'} WHERE user_id = 3")
    sess.execute("UPDATE ct SET s = s - {'view'} WHERE user_id = 4")
    sess.execute("UPDATE ct SET m = m + {'bonus': 100} WHERE user_id = 5")
    sess.execute("UPDATE ct SET m = m - {'view'} WHERE user_id = 6")
    sess.execute("DELETE l[0] FROM ct WHERE user_id = 7")
    sess.execute("UPDATE ct SET l[0] = 'first' WHERE user_id = 8")
    # empty-collection literal = COMPLEX DELETION (Lists.Setter →
    # ComplexColumnData deletion, no cells): the column reads NULL, not
    # []; the row stays visible through its other live columns
    sess.execute("UPDATE ct SET l = [] WHERE user_id = 9")
    sess.execute("UPDATE ct SET m = {} WHERE user_id = 10")
    out = sess.table()
    return out.select(
        "user_id",
        F.array_join("l", ",").alias("list_col"),
        F.array_join("s", ",").alias("set_col"),
        F.array_join(
            F.transform(
                sorted_entries("m"),
                lambda e: F.concat(e["key"], F.lit(":"), e["value"].cast("string")),
            ),
            ",",
        ).alias("map_col"),
    )


_COLLECTION_TEXT_ORACLE = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type, value FROM events WHERE user_id < 30
), lst AS (
  SELECT user_id, list(event_type ORDER BY ts, event_id) AS l,
         list_sort(list_distinct(list(event_type))) AS s
  FROM ev GROUP BY user_id
), lmod AS (
  SELECT user_id,
    CASE user_id
      WHEN 1 THEN l || ['end']
      WHEN 2 THEN ['start'] || l
      WHEN 7 THEN l[2:]
      WHEN 8 THEN ['first'] || l[2:]
      WHEN 9 THEN NULL
      ELSE l END AS l,
    CASE user_id
      WHEN 3 THEN list_sort(list_distinct(s || ['extra']))
      WHEN 4 THEN list_filter(s, x -> x != 'view')
      ELSE s END AS s
  FROM lst
), per_type AS (
  SELECT user_id, event_type,
         arg_max(CAST(floor(coalesce(value, 0) * 100) AS BIGINT), event_id) AS cents
  FROM ev GROUP BY user_id, event_type
), entries AS (
  SELECT user_id, event_type, cents FROM per_type
  WHERE NOT (user_id = 6 AND event_type = 'view')
  UNION ALL SELECT 5, 'bonus', 100
), mp AS (
  SELECT user_id,
    array_to_string(
      list_sort(list(event_type || ':' || CAST(cents AS VARCHAR))), ',') AS map_col
  FROM entries GROUP BY user_id
)
SELECT lmod.user_id,
       array_to_string(lmod.l, ',') AS list_col,
       array_to_string(lmod.s, ',') AS set_col,
       CASE WHEN lmod.user_id = 10 THEN NULL ELSE mp.map_col END AS map_col
FROM lmod JOIN mp ON lmod.user_id = mp.user_id
"""


def cql_create_mv_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE MATERIALIZED VIEW via statement text end-to-end
    (Parser.g:851; CreateViewStatement.java:95-300; db/view/View.java;
    ViewUpdateGenerator.java:45; ViewTest.java shapes): create a base
    table keyed on n_nationkey, a view re-keyed ((n_regionkey),
    n_nationkey) — n_regionkey is the one permitted non-PK base column —
    load 25 nation rows through one BATCH of bound INSERTs, then prove
    the view is maintained: a base row with a NULL view-PK column never
    appears in the view, and a base UPDATE is visible through it. The
    view partition read (WHERE n_regionkey = …) is the denormalization
    the reference builds MVs for. Collects bounded by the fixed 25-row
    nation cardinality."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute(
        "CREATE KEYSPACE mv_stmt WITH REPLICATION = "
        "{'class': 'SimpleStrategy', 'replication_factor': 1}"
    )
    db.execute("USE mv_stmt")
    db.execute(
        "CREATE TABLE nation_base (n_nationkey int PRIMARY KEY, "
        "n_regionkey int, n_name text)"
    )
    db.execute(
        "CREATE MATERIALIZED VIEW nation_by_region AS "
        "SELECT n_nationkey, n_regionkey, n_name FROM nation_base "
        "WHERE n_nationkey IS NOT NULL AND n_regionkey IS NOT NULL "
        "PRIMARY KEY (n_regionkey, n_nationkey)"
    )
    rows = load_table(spark, "nation", sf_dir).collect()  # 25 rows, fixed
    stmts = "; ".join(
        ["INSERT INTO nation_base (n_nationkey, n_regionkey, n_name) VALUES (?, ?, ?)"]
        * len(rows)
    )
    params: list = []
    for r in rows:
        params += [r.n_nationkey, r.n_regionkey, r.n_name]
    db.execute(f"BEGIN BATCH {stmts}; APPLY BATCH", params)
    # NULL view-PK column: lives in the base, invisible in the view
    db.execute("INSERT INTO nation_base (n_nationkey, n_name) VALUES (-990, 'LIMBO')")
    assert db.execute("SELECT n_nationkey FROM nation_base").count() == len(rows) + 1
    assert (
        db.execute("SELECT n_nationkey FROM nation_by_region").count() == len(rows)
    )
    # base UPDATE propagates through the always-current derivation
    db.execute("UPDATE nation_base SET n_name = 'RELABELED' WHERE n_nationkey = 8")
    # ALTER MATERIALIZED VIEW ... WITH (Parser.g st40;
    # AlterViewStatement.java:44-71 — the params-only form, new r10):
    # accepted params annotate the view's registry entry; the two
    # reference rejections (default_time_to_live > 0, gc_grace_seconds 0)
    # are pinned in test_cql_views.py. The stored params ride the result
    # as literal columns so any parse/apply drift hash-mismatches.
    db.execute(
        "ALTER MATERIALIZED VIEW nation_by_region WITH "
        "gc_grace_seconds = 864000 AND comment = 'regional rollup'"
    )
    vp = db.registry.view_params[("mv_stmt", "nation_by_region")]
    out = db.execute(
        "SELECT n_regionkey, n_nationkey, n_name FROM nation_by_region "
        "WHERE n_regionkey = 2"
    )
    return out.select(
        "*",
        F.lit(int(vp["gc_grace_seconds"])).alias("gc_grace"),
        F.lit(vp["comment"]).alias("comment"),
    )


_CREATE_MV_ORACLE = """
SELECT n_regionkey, n_nationkey,
       CASE WHEN n_nationkey = 8 THEN 'RELABELED' ELSE n_name END AS n_name,
       864000 AS gc_grace, 'regional rollup' AS comment
FROM nation WHERE n_regionkey = 2
"""


def cql_udf_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE FUNCTION via statement text (Parser.g createFunction rule;
    CreateFunctionStatement.java; UDFunction.java:69,382): a LANGUAGE sql
    body — this engine's dialect, expanded inline so the call runs in
    whole-stage codegen, the Spark-first replacement for the reference's
    sandboxed Java bytecode — plus RETURNS NULL ON NULL INPUT
    short-circuiting, exercised through the parsed SELECT surface over
    orders loaded as a CQL table. No driver-side row work: the CQL
    session reads the parquet frame directly as its base."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE udfks WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE udfks")
    db.execute(
        "CREATE TABLE orders_fn (o_orderkey bigint PRIMARY KEY, "
        "o_totalprice double, o_orderpriority text)"
    )
    # statement-created scalar functions: a banding expression and a
    # null-short-circuiting priority parser (nullif'd at the call site)
    db.execute(
        "CREATE FUNCTION price_band (p double) CALLED ON NULL INPUT "
        "RETURNS text LANGUAGE sql AS "
        "'CASE WHEN p > 200000 THEN ''high'' WHEN p > 100000 THEN ''mid'' "
        "ELSE ''low'' END'"
    )
    db.execute(
        "CREATE FUNCTION urgency (s text) RETURNS NULL ON NULL INPUT "
        "RETURNS int LANGUAGE sql AS 'CAST(split(s, ''-'')[0] AS INT)'"
    )
    # route the parquet frame in as the session base (bounded: no collect)
    sess = db._session_for_key(("udfks", "orders_fn"))
    sess.base = (
        load_table(spark, "orders", sf_dir)
        .withColumn(
            "o_orderpriority",
            F.expr("nullif(o_orderpriority, '5-LOW')"),
        )
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )
    return db.execute(
        "SELECT price_band(o_totalprice) AS band, urgency(o_orderpriority) AS urg "
        "FROM orders_fn"
    ).groupBy("band", "urg").agg(F.count(F.lit(1)).alias("n"))


_UDF_STMT_ORACLE = """
SELECT CASE WHEN o_totalprice > 200000 THEN 'high'
            WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS band,
       CASE WHEN o_orderpriority = '5-LOW' THEN NULL
            ELSE CAST(string_split(o_orderpriority, '-')[1] AS INT) END AS urg,
       count(*) AS n
FROM orders GROUP BY 1, 2
"""


def cql_uda_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE AGGREGATE via statement text (Parser.g createAggregate
    rule; CreateAggregateStatement.java; UDAggregate.java:44-53): SFUNC/
    STYPE/FINALFUNC/INITCOND with a tuple<bigint,bigint> state, compiled
    to ONE aggregate(collect_list(…), init, merge, finish) higher-order
    expression — the whole fold stays JVM-side (no Python callout), with
    the group-by shuffle as the only exchange. Integer-cents state keeps
    the result decimal-exact against the oracle."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE udaks WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE udaks")
    db.execute(
        "CREATE TABLE li (l_suppkey bigint, l_orderkey bigint, l_linenumber int, "
        "l_cents bigint, PRIMARY KEY (l_suppkey, l_orderkey, l_linenumber))"
    )
    db.execute(
        "CREATE FUNCTION cents_acc (st tuple<bigint,bigint>, v bigint) "
        "RETURNS NULL ON NULL INPUT RETURNS tuple<bigint,bigint> LANGUAGE sql "
        "AS 'named_struct(''_1'', st._1 + v, ''_2'', st._2 + 1L)'"
    )
    db.execute(
        "CREATE FUNCTION cents_avg (st tuple<bigint,bigint>) "
        "CALLED ON NULL INPUT RETURNS bigint LANGUAGE sql "
        "AS 'IF(st._2 = 0, NULL, CAST(st._1 / st._2 AS BIGINT))'"
    )
    db.execute(
        "CREATE AGGREGATE avg_cents (bigint) SFUNC cents_acc "
        "STYPE tuple<bigint,bigint> FINALFUNC cents_avg INITCOND (0, 0)"
    )
    sess = db._session_for_key(("udaks", "li"))
    li = load_table(spark, "lineitem", sf_dir)
    # the synthetic lineitem is TPC-H-ish, not TPC-H-exact: (l_orderkey,
    # l_linenumber) duplicates exist, which the session's LWW merge would
    # collapse nondeterministically — pre-aggregate onto the CQL pk so
    # Spark and oracle see the same unique-keyed rows at any SF
    sess.base = li.groupBy("l_suppkey", "l_orderkey", "l_linenumber").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("l_cents")
    )
    return db.execute(
        "SELECT l_suppkey, avg_cents(l_cents) AS avg_c FROM li "
        "GROUP BY l_suppkey"
    )


_UDA_STMT_ORACLE = """
WITH c AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem GROUP BY 1, 2, 3
)
SELECT l_suppkey,
       CAST(floor(SUM(cents) * 1.0 / COUNT(*)) AS BIGINT) AS avg_c
FROM c GROUP BY l_suppkey
"""


def cql_indexed_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index read path through statement text
    (CreateIndexStatement.java; SecondaryIndexManager.getBestIndexFor;
    StatementRestrictions.needFiltering): CREATE INDEX on a regular
    column makes a single EQ restriction on it executable WITHOUT ALLOW
    FILTERING — and the gate still fires for the unindexed column, a
    non-EQ operator, and an extra regular restriction (the reference's
    post-filtering rule). Physically the \"index\" stays Catalyst
    predicate pushdown + parquet file skipping — the SURVEY §4 analog of
    a 2i lookup, which is the right shape at 100 TB (no per-row index
    table to maintain). Negative cases asserted inline; the returned
    frame is the indexed scan."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase
    from cassandra_pmem_spark.cql.validator import InvalidRequest

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE idx_ks WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE idx_ks")
    db.execute(
        "CREATE TABLE ev (event_id bigint PRIMARY KEY, user_id bigint, "
        "event_type text)"
    )
    sess = db._session_for_key(("idx_ks", "ev"))
    sess.base = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    for bad in (
        "SELECT event_id FROM ev WHERE event_type = 'view'",  # not yet indexed
    ):
        try:
            db.execute(bad)
            raise AssertionError(f"gate missed: {bad}")
        except InvalidRequest:
            pass
    db.execute("CREATE INDEX ON ev (event_type)")
    for bad in (
        "SELECT event_id FROM ev WHERE user_id = 5",  # unindexed column
        "SELECT event_id FROM ev WHERE event_type > 'a'",  # non-EQ on index
        "SELECT event_id FROM ev WHERE event_type = 'view' AND user_id = 5",
    ):
        try:
            db.execute(bad)
            raise AssertionError(f"gate missed: {bad}")
        except InvalidRequest:
            pass
    single = db.execute(
        "SELECT event_id, user_id, event_type FROM ev WHERE event_type = 'view'"
    )
    assert db.last_index_choice == ("ev_event_type_idx", "event_type")
    # two-index selection (getBestIndexFor min-estimated-rows ranking):
    # with BOTH columns indexed, the multi-restriction statement still
    # needs ALLOW FILTERING (reference multi-index rule), and the engine
    # serves it by the MORE SELECTIVE index — user_id (one row per ~user)
    # beats event_type (a handful of distinct types)
    db.execute("CREATE INDEX uid_idx ON ev (user_id)")
    multi = db.execute(
        "SELECT event_id, user_id, event_type FROM ev "
        "WHERE event_type = 'view' AND user_id = 5 ALLOW FILTERING"
    )
    assert db.last_index_choice == ("uid_idx", "user_id"), db.last_index_choice
    return single.withColumn("src", F.lit("single")).unionByName(
        multi.withColumn("src", F.lit("multi"))
    )


_INDEXED_LOOKUP_ORACLE = """
SELECT event_id, user_id, event_type, 'single' AS src
FROM events WHERE event_type = 'view'
UNION ALL
SELECT event_id, user_id, event_type, 'multi' AS src
FROM events WHERE event_type = 'view' AND user_id = 5
"""


def cql_list_cell_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List/set ELEMENT-granular liveness through statement text
    (cql3/Lists.java:408-574 Appender/Prepender/SetterByIndex/
    DiscarderByIndex timeuuid-position cells; Sets.java:322,364
    element-keyed cells): per-user lists/sets built from the events log
    as the session base (cells at writetime 0), then appends, prepends,
    set add/discard, index set/delete and a TTL'd add — every statement
    at an explicit timestamp — and the per-cell WRITETIME()/TTL()
    selectors read back through the parsed SELECT surface. The oracle
    recomputes both the surviving elements AND each surviving cell's
    writetime/ttl as position-aligned strings; a whole-column-liveness
    implementation (every element re-stamped at the statement time)
    hash-mismatches immediately."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE lcl WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE lcl")
    db.execute(
        "CREATE TABLE cl (user_id bigint PRIMARY KEY, l list<text>, s set<text>)"
    )
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 30)
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
        lambda x: x["event_type"],
    )
    base = ev.groupBy("user_id").agg(
        seq.alias("l"), F.array_sort(F.collect_set("event_type")).alias("s")
    )
    sess = db._session_for_key(("lcl", "cl"))
    sess.base = base
    db.execute("UPDATE cl USING TIMESTAMP 777 SET l = l + ['end'] WHERE user_id = 1")
    db.execute("UPDATE cl USING TIMESTAMP 777 SET l = ['start'] + l WHERE user_id = 2")
    db.execute("UPDATE cl USING TIMESTAMP 777 SET s = s + {'zz'} WHERE user_id = 3")
    db.execute("UPDATE cl USING TIMESTAMP 777 SET s = s - {'view'} WHERE user_id = 4")
    db.execute(
        "UPDATE cl USING TIMESTAMP 777 AND TTL 5000 SET l = l + ['late'] "
        "WHERE user_id = 6"
    )
    db.execute("DELETE l[0] FROM cl USING TIMESTAMP 777 WHERE user_id = 7")
    db.execute("UPDATE cl USING TIMESTAMP 777 SET l[0] = 'first' WHERE user_id = 8")
    out = db.execute(
        "SELECT user_id, l, s, writetime(l) AS wl, writetime(s) AS ws, "
        "ttl(l) AS tl FROM cl"
    )
    s = lambda c: F.transform(c, lambda x: x.cast("string"))  # noqa: E731
    return out.select(
        "user_id",
        F.array_join("l", ",").alias("list_col"),
        F.array_join("s", ",").alias("set_col"),
        F.array_join(s(F.col("wl")), ",", "-").alias("wl_col"),
        F.array_join(s(F.col("ws")), ",", "-").alias("ws_col"),
        F.array_join(s(F.col("tl")), ",", "-").alias("tl_col"),
    )


_LIST_CELL_ORACLE = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type FROM events WHERE user_id < 30
), lst AS (
  SELECT user_id, list(event_type ORDER BY ts, event_id) AS l,
         list_sort(list_distinct(list(event_type))) AS s
  FROM ev GROUP BY user_id
), mod AS (
  SELECT user_id, len(l) AS n,
    CASE user_id
      WHEN 1 THEN l || ['end']
      WHEN 2 THEN ['start'] || l
      WHEN 6 THEN l || ['late']
      WHEN 7 THEN l[2:]
      WHEN 8 THEN ['first'] || l[2:]
      ELSE l END AS l2,
    CASE user_id
      WHEN 3 THEN list_sort(list_distinct(s || ['zz']))
      WHEN 4 THEN list_filter(s, x -> x != 'view')
      ELSE s END AS s2
  FROM lst
), z AS (
  SELECT *,
    array_to_string(list_transform(range(n), x -> '0'), ',') AS zn,
    array_to_string(list_transform(range(n - 1), x -> '0'), ',') AS zn1
  FROM mod
)
SELECT user_id,
  array_to_string(l2, ',') AS list_col,
  array_to_string(s2, ',') AS set_col,
  CASE user_id
    WHEN 1 THEN zn || ',777'
    WHEN 2 THEN '777,' || zn
    WHEN 6 THEN zn || ',777'
    WHEN 7 THEN zn1
    WHEN 8 THEN CASE WHEN n > 1 THEN '777,' || zn1 ELSE '777' END
    ELSE zn END AS wl_col,
  array_to_string(
    list_transform(s2, x ->
      CASE WHEN user_id = 3 AND x = 'zz' THEN '777' ELSE '0' END), ',') AS ws_col,
  array_to_string(
    list_transform(range(len(l2)), i ->
      CASE WHEN user_id = 6 AND i = len(l2) - 1 THEN '5777' ELSE '-' END),
    ',') AS tl_col
FROM z
"""




def cql_udt_field_writes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-frozen (multi-cell) UDT statement writes — UserTypes.SetterByField
    (cql3/UserTypes.java:371) / DeleterByField (:398), grammar
    Parser.g:1539,1586 udtColumnOperation, multi-cell flag
    db/marshal/UserType.java:52-63: per-FIELD cells with their own
    liveness. Base rows (cells at writetime 0) come from customer; eight
    keys get per-field SET/DELETE, full-value rewrites (complex deletion
    at wt-1 + field cells), a null-field tombstone, a TTL'd field write,
    an out-of-order full write whose deletion must NOT shadow a newer
    field cell, and per-field LWW — read back through WRITETIME(u) /
    WRITETIME(u.f) / TTL(u.f) selectors. A whole-value-LWW
    implementation (struct replaced atomically) hash-mismatches on keys
    1, 4, 7 and 8 immediately."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE ufw WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE ufw")
    db.execute("CREATE TYPE prof (name text, seg text, bal bigint)")
    db.execute("CREATE TABLE cust (ck bigint PRIMARY KEY, p prof)")
    base = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_custkey") <= 300)
        .select(
            F.col("c_custkey").alias("ck"),
            F.struct(
                F.col("c_name").alias("name"),
                F.col("c_mktsegment").alias("seg"),
                F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal"),
            ).alias("p"),
        )
    )
    sess = db._session_for_key(("ufw", "cust"))
    sess.base = base
    db.execute("UPDATE cust USING TIMESTAMP 500 SET p.seg = 'VIP' WHERE ck = 1")
    db.execute("DELETE p.name FROM cust USING TIMESTAMP 500 WHERE ck = 2")
    db.execute("UPDATE cust USING TIMESTAMP 500 SET p = {name: 'X'} WHERE ck = 3")
    db.execute(
        "UPDATE cust USING TIMESTAMP 500 AND TTL 9000 SET p.bal = 42 WHERE ck = 4"
    )
    db.execute("DELETE p FROM cust USING TIMESTAMP 500 WHERE ck = 5")
    db.execute("UPDATE cust USING TIMESTAMP 500 SET p.name = null WHERE ck = 6")
    db.execute("UPDATE cust USING TIMESTAMP 600 SET p.bal = 7 WHERE ck = 7")
    db.execute("UPDATE cust USING TIMESTAMP 300 SET p = {name: 'Y'} WHERE ck = 7")
    db.execute("UPDATE cust USING TIMESTAMP 100 SET p.seg = 'A' WHERE ck = 8")
    db.execute("UPDATE cust USING TIMESTAMP 90 SET p.seg = 'B' WHERE ck = 8")
    # LWT field conditions (Parser.g:1609 udtFieldCondition): the applied
    # one takes the session tick (wt=1 — conditional updates cannot carry
    # USING TIMESTAMP), the failed one applies nothing
    applied = db.execute("UPDATE cust SET p.seg = 'LWT' WHERE ck = 9 IF p.name != null")
    missed = db.execute("UPDATE cust SET p.seg = 'NO' WHERE ck = 10 IF p.name = 'nope'")
    assert applied is True and missed is False
    out = db.execute(
        "SELECT ck, p.name AS nm, p.seg AS sg, p.bal AS bal, "
        "writetime(p) AS wp, writetime(p.seg) AS wseg, ttl(p.bal) AS tbal "
        "FROM cust"
    )
    return out.select(
        "ck", "nm", "sg", "bal",
        F.array_join(
            F.transform(F.col("wp"), lambda x: x.cast("string")), ",", "-"
        ).alias("wp_col"),
        "wseg", "tbal",
    )


_UDT_FIELD_ORACLE = """
WITH base AS (
  SELECT c_custkey AS ck, c_name AS name, c_mktsegment AS seg,
         CAST(floor(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer WHERE c_custkey <= 300
)
SELECT ck,
  CASE ck WHEN 2 THEN NULL WHEN 3 THEN 'X' WHEN 5 THEN NULL
          WHEN 6 THEN NULL WHEN 7 THEN 'Y' ELSE name END AS nm,
  CASE ck WHEN 1 THEN 'VIP' WHEN 3 THEN NULL WHEN 5 THEN NULL
          WHEN 7 THEN NULL WHEN 8 THEN 'A' WHEN 9 THEN 'LWT' ELSE seg END AS sg,
  CASE ck WHEN 3 THEN NULL WHEN 4 THEN 42 WHEN 5 THEN NULL
          WHEN 7 THEN 7 ELSE bal END AS bal,
  CASE ck
    WHEN 1 THEN '0,500,0'
    WHEN 2 THEN '0,0'
    WHEN 3 THEN '500'
    WHEN 4 THEN '0,0,500'
    WHEN 5 THEN ''
    WHEN 6 THEN '0,0'
    WHEN 7 THEN '300,600'
    WHEN 8 THEN '0,100,0'
    WHEN 9 THEN '0,1,0'
    ELSE '0,0,0' END AS wp_col,
  CASE ck WHEN 1 THEN 500 WHEN 3 THEN NULL WHEN 5 THEN NULL
          WHEN 7 THEN NULL WHEN 8 THEN 100 WHEN 9 THEN 1 ELSE 0 END AS wseg,
  CASE ck WHEN 4 THEN 9499 ELSE NULL END AS tbal
FROM base
"""




def cql_alter_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TYPE schema evolution through statement text (Parser.g:971-972;
    cql3/statements/schema/AlterTypeStatement.java:44): ADD field (existing
    values back-fill null — including the pre-ALTER base frame and
    already-buffered mutations), RENAME field [AND ...] (buffered per-field
    cells and the base struct remap; the cell path — the field index — is
    unchanged, so liveness carries over), and the 4.0 rejection of field
    TYPE alteration (CASSANDRA-14426), asserted inline. Writes straddle
    both ALTERs so a re-prepare-from-scratch implementation (dropping
    buffered cells) hash-mismatches."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase
    from cassandra_pmem_spark.cql.validator import InvalidRequest

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE alt_ks WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE alt_ks")
    db.execute("CREATE TYPE loc (n text, r int)")
    db.execute("CREATE TABLE sup (sk bigint PRIMARY KEY, l loc)")
    base = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("sk"),
        F.struct(
            F.col("s_name").alias("n"),
            F.col("s_nationkey").cast("int").alias("r"),
        ).alias("l"),
    )
    sess = db._session_for_key(("alt_ks", "sup"))
    sess.base = base
    db.execute("UPDATE sup USING TIMESTAMP 100 SET l.r = 99 WHERE sk = 1")
    db.execute("ALTER TYPE loc ADD extra text")
    db.execute("UPDATE sup USING TIMESTAMP 200 SET l.extra = 'E2' WHERE sk = 2")
    db.execute("ALTER TYPE loc RENAME n TO nm AND r TO reg")
    db.execute("UPDATE sup USING TIMESTAMP 300 SET l.nm = 'Renamed#3' WHERE sk = 3")
    try:
        db.execute("ALTER TYPE loc ALTER nm TYPE int")
        raise AssertionError("field type alteration must be rejected")
    except InvalidRequest:
        pass
    return db.execute(
        "SELECT sk, l.nm AS nm, l.reg AS reg, l.extra AS extra, "
        "writetime(l.reg) AS wreg FROM sup"
    )


_ALTER_TYPE_ORACLE = """
SELECT s_suppkey AS sk,
  CASE s_suppkey WHEN 3 THEN 'Renamed#3' ELSE s_name END AS nm,
  CASE s_suppkey WHEN 1 THEN 99 ELSE CAST(s_nationkey AS INTEGER) END AS reg,
  CASE s_suppkey WHEN 2 THEN 'E2' ELSE NULL END AS extra,
  CASE s_suppkey WHEN 1 THEN 100 ELSE 0 END AS wreg
FROM supplier
"""




def cql_agg_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregates over NESTED selectables (Selectable.WithFunction —
    cql3/selection/Selectable.java nesting): max(writetime(col)) reads
    the liveness shadows under the fold, avg(cast(col as int)) applies
    CQL's INTEGER avg (AggregateFcts.java:431-446 BigInteger division,
    truncation toward zero — Spark's F.avg double would hash-mismatch),
    and count(*) rides along. Base rows carry writetime 0; two inserted
    rows at explicit timestamps prove the shadow feeds the max."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE agn WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE agn")
    db.execute(
        "CREATE TABLE ord (o_custkey bigint, o_orderkey bigint, "
        "o_totalprice double, PRIMARY KEY (o_custkey, o_orderkey))"
    )
    base = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderkey") < 2000)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )
    sess = db._session_for_key(("agn", "ord"))
    sess.base = base
    db.execute(
        "INSERT INTO ord (o_custkey, o_orderkey, o_totalprice) "
        "VALUES (-1, -1, 1000.9) USING TIMESTAMP 500"
    )
    db.execute(
        "INSERT INTO ord (o_custkey, o_orderkey, o_totalprice) "
        "VALUES (-1, -2, 2000.2) USING TIMESTAMP 300"
    )
    return db.execute(
        "SELECT o_custkey, count(*) AS n, "
        "max(writetime(o_totalprice)) AS mw, "
        "avg(cast(o_totalprice as int)) AS ai "
        "FROM ord GROUP BY o_custkey"
    )


_AGG_NESTED_ORACLE = """
WITH b AS (
  SELECT o_custkey, o_orderkey, o_totalprice, 0 AS wt
  FROM orders WHERE o_orderkey < 2000
  UNION ALL SELECT -1, -1, 1000.9, 500
  UNION ALL SELECT -1, -2, 2000.2, 300
)
SELECT o_custkey,
  count(*) AS n,
  CAST(max(wt) AS BIGINT) AS mw,
  CAST(SUM(CAST(trunc(o_totalprice) AS INTEGER)) // count(*) AS INTEGER) AS ai
FROM b GROUP BY o_custkey
"""




def cql_system_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """system_schema introspection through the statement surface
    (schema/SchemaKeyspace.java:124 — the TABLES/COLUMNS/TYPES/INDEXES
    tables every driver reads to discover schema): scripted DDL (type,
    tables with composite keys/statics/collections/UDTs, an index,
    then an ALTER TYPE rename), read back via SELECTs over
    system_schema.columns and system_schema.types. The oracle holds the
    rows the DDL must produce — any drift in column kinds, positions, or
    reconstructed CQL type text (including frozen<> and set-vs-list
    disambiguation, which Spark's type system erases) hash-mismatches."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE iss WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE iss")
    db.execute("CREATE TYPE loc (street text, zip int)")
    db.execute(
        "CREATE TABLE ev (u bigint, d date, seq int, kind text STATIC, "
        "payload blob, place loc, fplace frozen<loc>, tags set<text>, "
        "hist list<double>, attrs map<text, int>, "
        "PRIMARY KEY ((u, d), seq))"
    )
    db.execute("CREATE INDEX kind_i ON ev (kind)")
    db.execute("ALTER TYPE loc RENAME street TO road")
    cols = db.execute(
        "SELECT keyspace_name, table_name, column_name, kind, position, type "
        "FROM system_schema.columns"
    )
    types = db.execute(
        "SELECT type_name, field_names, field_types FROM system_schema.types"
    )
    idx = db.execute(
        "SELECT table_name AS itable, index_name, target FROM system_schema.indexes"
    )
    return (
        cols.withColumn("src", F.lit("col"))
        .unionByName(
            types.select(
                F.lit("iss").alias("keyspace_name"),
                F.col("type_name").alias("table_name"),
                F.col("field_names").alias("column_name"),
                F.lit("type").alias("kind"),
                F.lit(-1).alias("position"),
                F.col("field_types").alias("type"),
                F.lit("type").alias("src"),
            )
        )
        .unionByName(
            idx.select(
                F.lit("iss").alias("keyspace_name"),
                F.col("itable").alias("table_name"),
                F.col("index_name").alias("column_name"),
                F.lit("index").alias("kind"),
                F.lit(-1).alias("position"),
                F.col("target").alias("type"),
                F.lit("index").alias("src"),
            )
        )
    )


_SYSTEM_SCHEMA_ORACLE = """
SELECT * FROM (VALUES
  ('iss', 'ev', 'u',       'partition_key', 0,  'bigint',          'col'),
  ('iss', 'ev', 'd',       'partition_key', 1,  'date',            'col'),
  ('iss', 'ev', 'seq',     'clustering',    0,  'int',             'col'),
  ('iss', 'ev', 'kind',    'static',        -1, 'text',            'col'),
  ('iss', 'ev', 'payload', 'regular',       -1, 'blob',            'col'),
  ('iss', 'ev', 'place',   'regular',       -1, 'loc',             'col'),
  ('iss', 'ev', 'fplace',  'regular',       -1, 'frozen<loc>',     'col'),
  ('iss', 'ev', 'tags',    'regular',       -1, 'set<text>',       'col'),
  ('iss', 'ev', 'hist',    'regular',       -1, 'list<double>',    'col'),
  ('iss', 'ev', 'attrs',   'regular',       -1, 'map<text, int>',  'col'),
  ('iss', 'loc', 'road,zip', 'type',        -1, 'text,int',        'type'),
  ('iss', 'ev', 'kind_i',  'index',         -1, 'kind',            'index')
) AS t(keyspace_name, table_name, column_name, kind, position, type, src)
"""


def cql_fn_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant FUNCTION TERMS in write-statement values (grammar Parser.g
    term := function '(' terms ')'; cql3/functions/BytesConversionFcts.java:36,
    TimeFcts.java): XAsBlob/blobAsX reinterpret casts — including nested
    composition — and toDate/toUnixTimestamp over literals, folded at
    prepare exactly like the reference's coordinator-side pure-function
    execution (cql/terms.py), then riding the ordinary mutation path.
    The resulting typed values read back through the parsed SELECT
    surface; byte layouts are the marshal forms (big-endian
    two's-complement / IEEE-754), so the hex projections pin them.
    Terms also serve as RELATION values (the insert-then-delete of
    key 7 resolves its key through a folded term), and keys 8/9 pin
    INSERT JSON DEFAULT UNSET vs the reference-default NULL expunge
    (CASSANDRA-11424)."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE ftk WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE ftk")
    db.execute(
        "CREATE TABLE ft (k int PRIMARY KEY, b blob, bi bigint, d double, "
        "t text, dt date, un bigint)"
    )
    db.execute("INSERT INTO ft (k, b) VALUES (1, textAsBlob('hi'))")
    db.execute(
        "INSERT INTO ft (k, bi) VALUES (2, blobAsBigint(bigintAsBlob(123456789012)))"
    )
    db.execute("INSERT INTO ft (k, d) VALUES (3, blobAsDouble(doubleAsBlob(2.5)))")
    db.execute("INSERT INTO ft (k, t) VALUES (4, blobAsText(textAsBlob('round-trip')))")
    db.execute(
        "INSERT INTO ft (k, dt, un) VALUES "
        "(5, toDate('2024-03-01'), toUnixTimestamp('2024-03-01 12:00:00'))"
    )
    db.execute("UPDATE ft SET b = intAsBlob(-2) WHERE k = 6")
    # function terms as RELATION values too (term rule in relations):
    # the folded constant rides the ordinary pushed-down predicate
    db.execute("INSERT INTO ft (k, t) VALUES (7, 'doomed')")
    db.execute("DELETE FROM ft WHERE k = blobAsInt(intAsBlob(7))")
    # INSERT JSON DEFAULT semantics (CASSANDRA-11424): UNSET preserves
    # omitted columns; the reference default (NULL) expunges them
    db.execute("INSERT INTO ft (k, t, bi) VALUES (8, 'keep', 8)")
    db.execute('INSERT INTO ft JSON \'{"k": 8, "bi": 88}\' DEFAULT UNSET')
    db.execute("INSERT INTO ft (k, t, bi) VALUES (9, 'gone', 9)")
    db.execute('INSERT INTO ft JSON \'{"k": 9, "bi": 99}\'')
    out = db.execute("SELECT k, b, bi, d, t, dt, un FROM ft")
    return out.select(
        "k",
        F.hex("b").alias("b_hex"),
        "bi",
        "d",
        "t",
        F.col("dt").cast("string").alias("dt"),
        "un",
    )


_FN_TERMS_ORACLE = """
SELECT * FROM (VALUES
  (1, '6869', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
     CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)),
  (2, NULL, 123456789012, NULL, NULL, NULL, NULL),
  (3, NULL, NULL, 2.5, NULL, NULL, NULL),
  (4, NULL, NULL, NULL, 'round-trip', NULL, NULL),
  (5, NULL, NULL, NULL, NULL, '2024-03-01', 1709294400000),
  (6, 'FFFFFFFE', NULL, NULL, NULL, NULL, NULL),
  (8, NULL, 88, NULL, 'keep', NULL, NULL),
  (9, NULL, 99, NULL, NULL, NULL, NULL)
) t(k, b_hex, bi, d, t, dt, un)
"""


def cql_now_writes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """now()/uuid()/currenttimestamp() as WRITE TERMS, folded from the
    session's coordinator clock (TimeFcts.java:39-57, UuidFcts.java:29 —
    the reference executes them coordinator-side; here the instant is
    SessionClockFold.EPOCH_MS + the statement tick, deterministic per
    statement like ClientState.getTimestamp). Exercises: timeuuid PK
    minting via now(), a BATCH whose two statements share one folded
    instant (CASSANDRA-14361 direction), a range DELETE bounded by
    minTimeuuid over the minted ids (UUIDGen.minTimeUUID:198 extreme,
    TimeUUIDType timestamp-first order), and the v1-embedded-timestamp
    read-backs dateof/tounixtimestamp (TimeFcts.java:97,191). The oracle
    holds the exact uuids/instants the clock contract requires — any
    drift in the fold, the v1 bit layout (UUIDGen.createTime:353), or
    the bound translation hash-mismatches."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE nwq WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE nwq")
    db.execute(
        "CREATE TABLE ev (k int, id timeuuid, u uuid, cts timestamp, v int, "
        "PRIMARY KEY (k, id))"
    )
    # statement ticks 1..3 -> instants EPOCH+1ms .. EPOCH+3ms
    db.execute("INSERT INTO ev (k, id, v) VALUES (1, now(), 0)")
    db.execute("INSERT INTO ev (k, id, v) VALUES (1, now(), 1)")
    db.execute("INSERT INTO ev (k, id, v) VALUES (1, now(), 2)")
    # tick 4: three folds in one statement — occurrences 0, 1, 2
    db.execute(
        "INSERT INTO ev (k, id, u, cts, v) VALUES (2, now(), uuid(), currenttimestamp(), 3)"
    )
    # tick 5 shared by both batch statements: one folded INSTANT, but
    # DISTINCT uuids — the session-wide occurrence counter advances per
    # fold across statements sharing a tick (the reference always mints
    # distinct now() uuids; identical (tick, occurrence) pairs would let
    # LWW silently absorb the second write)
    db.execute(
        "BEGIN BATCH "
        "INSERT INTO ev (k, id, v) VALUES (3, now(), 4); "
        "INSERT INTO ev (k, id, v) VALUES (4, now(), 5); "
        "APPLY BATCH"
    )
    # tick 6: range-delete k=1 ids embedded at or after EPOCH+2ms
    db.execute(
        "DELETE FROM ev WHERE k = 1 AND id > minTimeuuid('2024-01-01 00:00:00.002')"
    )
    out = db.execute(
        "SELECT k, v, id, u, tounixtimestamp(id) AS ms, dateof(id) AS at FROM ev"
    )
    return out


def _now_oracle() -> str:
    from cassandra_pmem_spark.cql.terms import (
        SESSION_CLOCK_SEQ_AND_NODE,
        SessionClockFold,
        ticks_from_unix_ms,
        v1_uuid_text,
    )

    def tu(tick: int, occ: int = 0) -> str:
        return v1_uuid_text(
            ticks_from_unix_ms(SessionClockFold.EPOCH_MS + tick, occ),
            SESSION_CLOCK_SEQ_AND_NODE,
        )

    u4 = SessionClockFold(lambda: 4)
    u4.fold("now")  # occurrence 0 is the timeuuid
    v4 = u4.fold("uuid")  # occurrence 1
    e = SessionClockFold.EPOCH_MS
    rows = [
        (1, 0, tu(1), None, e + 1),
        (2, 3, tu(4), v4, e + 4),
        (3, 4, tu(5), None, e + 5),
        # second now() at the shared batch tick: occurrence 1 (distinct
        # uuid, same embedded millisecond)
        (4, 5, tu(5, 1), None, e + 5),
    ]
    vals = ",\n  ".join(
        f"({k}, {v}, '{i}', {('NULL' if u is None else repr(u))}, {ms}, "
        f"epoch_ms(CAST({ms} AS BIGINT)))"
        for k, v, i, u, ms in rows
    )
    return (
        "SELECT k, v, id, CAST(u AS VARCHAR) AS u, ms, at FROM (VALUES\n  "
        f"{vals}\n) t(k, v, id, u, ms, at)"
    )


def cql_roles_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DCL statement tier (Parser.g:224-245 st16-22/st32-37 —
    CREATE/ALTER/DROP ROLE + USER aliases, GRANT/REVOKE ROLE,
    GRANT/REVOKE/LIST PERMISSIONS), registry-backed with the reference's
    4.0 LIST shapes (ListRolesStatement.java:49-54,
    ListPermissionsStatement.java:46-51). Exercises: CREATE defaults
    (ROLE login=false vs USER login=true), role options incl. the custom
    OPTIONS map, membership closure, permission filtering against the
    resource's applicable set (DataResource.java:44-55), a DROP ROLE
    cascade (membership + grants held + grants ON it —
    CassandraAuthorizer.revokeAllFrom/revokeAllOn), and the transitive
    OF-closure listing (CassandraAuthorizer.list:259). The oracle pins
    every LIST row; the two LIST frames union into one scalar frame."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE rks WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE rks")
    db.execute("CREATE TABLE docs (k int PRIMARY KEY, body text)")
    db.execute("CREATE ROLE reader")
    db.execute("CREATE ROLE writer WITH LOGIN = true")
    db.execute("CREATE USER admin WITH PASSWORD 'pw' SUPERUSER")
    db.execute("CREATE ROLE app WITH OPTIONS = {'env': 'prod'}")
    db.execute("ALTER ROLE app WITH LOGIN = true")
    db.execute("GRANT ROLE reader TO writer")
    db.execute("GRANT ROLE writer TO admin")
    db.execute("GRANT SELECT ON TABLE rks.docs TO reader")
    db.execute("GRANT MODIFY ON KEYSPACE rks TO writer")
    db.execute("GRANT ALL PERMISSIONS ON ALL KEYSPACES TO admin")
    db.execute("GRANT AUTHORIZE ON ROLE reader TO admin")
    db.execute("GRANT EXECUTE ON ALL FUNCTIONS TO app")
    # DROP cascade: the roles it held, the grants it held, grants ON it
    db.execute("CREATE ROLE doomed")
    db.execute("GRANT DROP ON KEYSPACE rks TO doomed")
    db.execute("GRANT ALTER ON ROLE doomed TO admin")
    db.execute("DROP ROLE doomed")
    roles = db.execute("LIST ROLES")
    perms = db.execute("LIST ALL PERMISSIONS OF admin")
    out = roles.select(
        F.lit("role").alias("src"),
        F.col("role").alias("name"),
        F.col("super").cast("string").alias("x1"),
        F.col("login").cast("string").alias("x2"),
        F.col("options").alias("x3"),
    ).unionByName(
        perms.select(
            F.lit("perm").alias("src"),
            F.col("role").alias("name"),
            F.col("resource").alias("x1"),
            F.col("permission").alias("x2"),
            F.col("username").alias("x3"),
        )
    )
    return out


_ROLES_ORACLE = """
SELECT * FROM (VALUES
  ('role', 'admin',  'true',  'true',  '{}'),
  ('role', 'app',    'false', 'true',  '{"env": "prod"}'),
  ('role', 'reader', 'false', 'false', '{}'),
  ('role', 'writer', 'false', 'true',  '{}'),
  ('perm', 'admin',  '<all keyspaces>',   'CREATE',    'admin'),
  ('perm', 'admin',  '<all keyspaces>',   'ALTER',     'admin'),
  ('perm', 'admin',  '<all keyspaces>',   'DROP',      'admin'),
  ('perm', 'admin',  '<all keyspaces>',   'SELECT',    'admin'),
  ('perm', 'admin',  '<all keyspaces>',   'MODIFY',    'admin'),
  ('perm', 'admin',  '<all keyspaces>',   'AUTHORIZE', 'admin'),
  ('perm', 'admin',  '<role reader>',     'AUTHORIZE', 'admin'),
  ('perm', 'reader', '<table rks.docs>',  'SELECT',    'reader'),
  ('perm', 'writer', '<keyspace rks>',    'MODIFY',    'writer')
) t(src, name, x1, x2, x3)
"""


def cql_index_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection index targets (Parser.g:842-847 indexIdent;
    IndexTarget.java SIMPLE/VALUES/KEYS/KEYS_AND_VALUES/FULL;
    CreateIndexStatement.java:153-192) and the kind-aware read gate
    (CassandraIndex.supportsExpression): keys()=CONTAINS KEY,
    values()=CONTAINS (bare collection targets normalize to values),
    entries()=m[k]=v (the map-entry relation), full()=frozen-collection
    equality, simple=EQ. Each probe runs WITHOUT ALLOW FILTERING — it
    passes the gate only because the matching index kind exists — and
    the statement asserts getBestIndexFor reported that index. The
    oracle pins every served row.

    r11: also the SASI IndexMode LIKE matrix (index/sasi/conf/
    IndexMode.java:134-196; OnDiskIndexBuilder.Mode:51-73;
    ColumnIndex.supports:219-230): a PREFIX-mode index serves LIKE 'x%'
    but NOT '%x' / '%x%' (rejections asserted inline with the
    reference's index-only message), a CONTAINS-mode index serves all
    shapes, SPARSE-on-literal and bad mode names reject at CREATE with
    the reference's ConfigurationException messages. ANALYZED matching
    semantics too (Expression.validateStringValue:272-307): a
    StandardAnalyzer CONTAINS index matches per analyzed TERM
    (lowercased, tokenized, stopwords dropped — raw-substring would
    return different rows, which the oracle pins), rejects PREFIX
    (tokenized CONTAINS) and EQ (tokenized); a NonTokenizingAnalyzer
    case_sensitive=false PREFIX index matches case-folded and still
    serves EQ (isTokenizing()=false — ColumnIndex.java:82)."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase
    from cassandra_pmem_spark.cql.validator import (
        ConfigurationException,
        InvalidRequest,
    )

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE itk WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE itk")
    db.execute(
        "CREATE TABLE ev (id int PRIMARY KEY, m map<text, int>, "
        "s set<text>, fl frozen<list<int>>, tag text, b1 text, b2 text, "
        "b3 text, b4 text)"
    )
    db.execute(
        "INSERT INTO ev (id, m, s, fl, tag, b1, b2, b3, b4) VALUES "
        "(1, {'a': 1, 'b': 2}, {'x'}, [1, 2], 'hot', 'hot', 'holder', "
        "'The Quick Brown', 'Hot')"
    )
    db.execute(
        "INSERT INTO ev (id, m, s, fl, tag, b1, b2, b3, b4) VALUES "
        "(2, {'b': 9, 'c': 7}, {'x', 'y'}, [3], 'cold', 'cold', 'older', "
        "'brown fox', 'Cold')"
    )
    db.execute(
        "INSERT INTO ev (id, fl, tag, b1, b2, b3, b4) VALUES "
        "(3, [1, 2], 'hot', 'hotter', 'bold', 'QUICKLY done', 'HOTTER')"
    )
    db.execute("CREATE INDEX m_keys ON ev (keys(m))")
    db.execute("CREATE INDEX m_vals ON ev (values(m))")
    db.execute("CREATE INDEX m_ent ON ev (entries(m))")
    db.execute("CREATE INDEX s_vals ON ev (s)")  # normalizes to values()
    db.execute("CREATE INDEX fl_full ON ev (full(fl))")
    db.execute("CREATE INDEX tag_idx ON ev (tag)")
    sasi = "'org.apache.cassandra.index.sasi.SASIIndex'"
    db.execute(
        f"CREATE CUSTOM INDEX b1_sasi ON ev (b1) USING {sasi} "
        "WITH OPTIONS = {'mode': 'PREFIX'}"
    )
    db.execute(
        f"CREATE CUSTOM INDEX b2_sasi ON ev (b2) USING {sasi} "
        "WITH OPTIONS = {'mode': 'CONTAINS'}"
    )
    db.execute(
        f"CREATE CUSTOM INDEX b3_sasi ON ev (b3) USING {sasi} "
        "WITH OPTIONS = {'mode': 'CONTAINS', 'analyzed': 'true'}"
    )
    db.execute(
        f"CREATE CUSTOM INDEX b4_sasi ON ev (b4) USING {sasi} "
        "WITH OPTIONS = {'mode': 'PREFIX', 'analyzer_class': "
        "'org.apache.cassandra.index.sasi.analyzer.NonTokenizingAnalyzer', "
        "'case_sensitive': 'false'}"
    )
    probes = [
        ("entry_eq", "SELECT id FROM ev WHERE m['b'] = 2", "m_ent", "m"),
        ("frozen_eq", "SELECT id FROM ev WHERE fl = [1, 2]", "fl_full", "fl"),
        ("keys_ck", "SELECT id FROM ev WHERE m CONTAINS KEY 'a'", "m_keys", "m"),
        ("set_contains", "SELECT id FROM ev WHERE s CONTAINS 'x'", "s_vals", "s"),
        ("simple_eq", "SELECT id FROM ev WHERE tag = 'hot'", "tag_idx", "tag"),
        ("values_contains", "SELECT id FROM ev WHERE m CONTAINS 7", "m_vals", "m"),
        # SASI per-mode LIKE serving (Mode.PREFIX / Mode.CONTAINS op sets)
        ("sasi_prefix", "SELECT id FROM ev WHERE b1 LIKE 'ho%'", "b1_sasi", "b1"),
        ("sasi_contains", "SELECT id FROM ev WHERE b2 LIKE '%ol%'", "b2_sasi", "b2"),
        ("sasi_suffix", "SELECT id FROM ev WHERE b2 LIKE '%der'", "b2_sasi", "b2"),
        # analyzed (StandardAnalyzer) CONTAINS: matches per lowercased
        # TERM — 'The Quick Brown' matches '%quick%' though the raw
        # value contains neither 'quick' nor (case-sensitively) 'Quick'
        # at the matched casing; 'QUICKLY done' matches via the term
        # 'quickly'
        ("sasi_an_contains", "SELECT id FROM ev WHERE b3 LIKE '%quick%'", "b3_sasi", "b3"),
        ("sasi_an_suffix", "SELECT id FROM ev WHERE b3 LIKE '%own'", "b3_sasi", "b3"),
        ("sasi_an_match", "SELECT id FROM ev WHERE b3 LIKE 'fox'", "b3_sasi", "b3"),
        # NonTokenizing case_sensitive=false PREFIX: case-folded match
        ("sasi_nt_prefix", "SELECT id FROM ev WHERE b4 LIKE 'hot%'", "b4_sasi", "b4"),
    ]
    out = None
    for probe, q, idx, col in probes:
        frame = db.execute(q).select(
            F.lit(probe).alias("probe"), F.col("id").alias("id")
        )
        if db.last_index_choice != (idx, col):
            raise AssertionError(
                f"{probe}: expected index {(idx, col)}, "
                f"got {db.last_index_choice}"
            )
        out = frame if out is None else out.unionByName(frame)
    # mode REJECTIONS, asserted inline (shapes the mode's on-disk layout
    # cannot answer reject with the index-only message; bad option
    # combinations reject at CREATE with ConfigurationException)
    for bad_q in (
        "SELECT id FROM ev WHERE b1 LIKE '%ot'",   # SUFFIX not in PREFIX mode
        "SELECT id FROM ev WHERE b1 LIKE '%ot%'",  # CONTAINS not in PREFIX mode
        "SELECT id FROM ev WHERE b3 LIKE 'qui%'",  # PREFIX on tokenized CONTAINS
    ):
        try:
            db.execute(bad_q)
            raise AssertionError(f"PREFIX-mode index served: {bad_q}")
        except InvalidRequest as e:
            if "properly indexed" not in str(e):
                raise
    for bad_ddl, want in (
        (
            f"CREATE CUSTOM INDEX b1_sp ON ev (b1) USING {sasi} "
            "WITH OPTIONS = {'mode': 'SPARSE'}",
            "SPARSE mode is only supported on non-literal columns.",
        ),
        (
            f"CREATE CUSTOM INDEX b1_x ON ev (b1) USING {sasi} "
            "WITH OPTIONS = {'mode': 'BOGUS'}",
            "Incorrect index mode: BOGUS",
        ),
    ):
        try:
            db.execute(bad_ddl)
            raise AssertionError(f"accepted: {bad_ddl}")
        except ConfigurationException as e:
            if str(e) != want:
                raise AssertionError(f"wrong message: {e!r} != {want!r}")
    return out


_INDEX_TARGETS_ORACLE = """
SELECT * FROM (VALUES
  ('entry_eq', 1),
  ('frozen_eq', 1), ('frozen_eq', 3),
  ('keys_ck', 1),
  ('set_contains', 1), ('set_contains', 2),
  ('simple_eq', 1), ('simple_eq', 3),
  ('values_contains', 2),
  ('sasi_prefix', 1), ('sasi_prefix', 3),
  ('sasi_contains', 1), ('sasi_contains', 2), ('sasi_contains', 3),
  ('sasi_suffix', 1), ('sasi_suffix', 2),
  ('sasi_an_contains', 1), ('sasi_an_contains', 3),
  ('sasi_an_suffix', 1), ('sasi_an_suffix', 2),
  ('sasi_an_match', 2),
  ('sasi_nt_prefix', 1), ('sasi_nt_prefix', 3)
) t(probe, id)
"""


def cql_trigger_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trigger tier end-to-end (triggers/ITrigger.java:41,49;
    TriggerExecutor.java:113-146; CreateTriggerStatement.java:49-80;
    the reference's shipped example AuditTrigger.java:34-53 writing
    (keyspace_name, table_name, partition-key-string) rows keyed by a
    fresh timeuuid into its configured test.audit table). Exercises:
    CREATE TRIGGER ... USING 'AuditTrigger', one audit row PER PARTITION
    UPDATE (a two-row single-partition batch fires once; a two-partition
    batch fires twice — TriggerExecutor iterates getPartitionUpdates),
    DELETE firing, a failed LWT condition firing nothing (no partition
    update forms), DROP TRIGGER stopping the stream, and the
    system_schema.triggers introspection row (SchemaKeyspace.java:
    170-178). The audit ids are engine-minted timeuuids (distinct per
    row — asserted in tests/test_cql_triggers.py); this frame projects
    the deterministic columns."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE tgk WITH REPLICATION = {'class': 'SimpleStrategy'}")
    # the example trigger's configured audit target (AuditTrigger.properties)
    db.execute("CREATE KEYSPACE test WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute(
        "CREATE TABLE test.audit (id timeuuid PRIMARY KEY, keyspace_name text, "
        "table_name text, primary_key text)"
    )
    db.execute("USE tgk")
    db.execute("CREATE TABLE src (k int, c int, v text, PRIMARY KEY (k, c))")
    db.execute("CREATE TRIGGER audit_src ON src USING 'AuditTrigger'")
    db.execute("INSERT INTO src (k, c, v) VALUES (1, 10, 'a')")
    db.execute("INSERT INTO src (k, c, v) VALUES (1, 20, 'b')")
    # one partition -> ONE update -> one audit row
    db.execute(
        "BEGIN BATCH "
        "INSERT INTO src (k, c, v) VALUES (2, 1, 'x'); "
        "INSERT INTO src (k, c, v) VALUES (2, 2, 'y'); "
        "APPLY BATCH"
    )
    # two partitions -> two updates -> two audit rows
    db.execute(
        "BEGIN BATCH "
        "INSERT INTO src (k, c, v) VALUES (3, 1, 'p'); "
        "UPDATE src SET v = 'q' WHERE k = 4 AND c = 1; "
        "APPLY BATCH"
    )
    db.execute("DELETE FROM src WHERE k = 9 AND c = 9")
    # failed condition: no partition update, trigger never fires
    db.execute("UPDATE src SET v = 'no' WHERE k = 1 AND c = 10 IF v = 'zzz'")
    meta_rows = db.execute(
        "SELECT keyspace_name, table_name, trigger_name, options "
        "FROM system_schema.triggers"
    )
    db.execute("DROP TRIGGER audit_src ON src")
    db.execute("INSERT INTO src (k, c, v) VALUES (5, 1, 'silent')")
    audit = db.execute(
        "SELECT keyspace_name, table_name, primary_key FROM test.audit"
    )
    src = db.execute("SELECT k, c, v FROM src")
    out = (
        audit.select(
            F.lit("audit").alias("src"),
            F.col("keyspace_name").alias("x1"),
            F.col("table_name").alias("x2"),
            F.col("primary_key").alias("x3"),
        )
        .unionByName(
            src.select(
                F.lit("row").alias("src"),
                F.col("k").cast("string").alias("x1"),
                F.col("c").cast("string").alias("x2"),
                F.col("v").alias("x3"),
            )
        )
        .unionByName(
            meta_rows.select(
                F.lit("meta").alias("src"),
                F.concat_ws(".", "keyspace_name", "table_name").alias("x1"),
                F.col("trigger_name").alias("x2"),
                F.col("options").alias("x3"),
            )
        )
    )
    return out


_TRIGGER_AUDIT_ORACLE = """
SELECT src, x1, x2, x3 FROM (VALUES
  ('audit', 'tgk', 'src', '1'),
  ('audit', 'tgk', 'src', '1'),
  ('audit', 'tgk', 'src', '2'),
  ('audit', 'tgk', 'src', '3'),
  ('audit', 'tgk', 'src', '4'),
  ('audit', 'tgk', 'src', '9'),
  ('meta', 'tgk.src', 'audit_src', '{"class": "AuditTrigger"}'),
  ('row', '1', '10', 'a'),
  ('row', '1', '20', 'b'),
  ('row', '2', '1', 'x'),
  ('row', '2', '2', 'y'),
  ('row', '3', '1', 'p'),
  ('row', '4', '1', 'q'),
  ('row', '5', '1', 'silent')
) t(src, x1, x2, x3)
"""


def cql_paging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QueryPager tier (service/pager/QueryPager.java family;
    AggregationQueryPager.java:39,107 — GROUP BY page size counts
    GROUPS and pages only contain COMPLETE groups; PagingState.java:49
    — opaque resumable position; DataLimits — LIMIT counts across
    pages). Exercises: a row pager over the full table in token-then-
    clustering order INCLUDING a serialize/resume round-trip after the
    first page, a GROUP BY pk pager, a GROUP BY pk+clustering-prefix
    pager, LIMIT shrinking across pages, and the single-page global
    aggregation. Every row is tagged with its page number, so the
    oracle pins page BOUNDARIES exactly (via the murmur3-twin token
    order), not just the union of pages."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE pgq WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE pgq")
    db.execute("CREATE TABLE t (k int, c int, v int, PRIMARY KEY (k, c))")
    # one BATCH for the 24 fixture rows: per-statement execute() paid 24×
    # fixed statement/job overhead, which dominated the bench entry and
    # drowned the pager timing this query exists to measure
    inserts = " ".join(
        f"INSERT INTO t (k, c, v) VALUES ({k}, {c}, {10 * k + c});"
        for k in range(6)
        for c in range(4)
    )
    db.execute(f"BEGIN BATCH {inserts} APPLY BATCH")
    rows: list[tuple] = []

    def drain(pager, shape) -> None:
        page = 0
        while not pager.is_exhausted():
            got = pager.fetch_page()
            if not got:
                break
            rows.extend(shape(page, r) for r in got)
            page += 1

    # row pager + a PagingState serialize/resume after page 0
    p = db.pager("SELECT k, c, v FROM t", page_size=7)
    first = p.fetch_page()
    rows.extend(("rows", 0, r["k"], r["c"], r["v"]) for r in first)
    resumed = db.pager("SELECT k, c, v FROM t", page_size=7, state=p.state())
    drain(resumed, lambda pg, r: ("rows", pg + 1, r["k"], r["c"], r["v"]))
    # GROUP BY partition key: 6 groups, pages of 4 -> [4, 2]
    drain(
        db.pager("SELECT k, count(v) AS cnt FROM t GROUP BY k", page_size=4),
        lambda pg, r: ("groups", pg, r["k"], None, r["cnt"]),
    )
    # GROUP BY pk + clustering prefix: 24 groups, pages of 10 -> [10, 10, 4]
    drain(
        db.pager("SELECT k, c, sum(v) AS s FROM t GROUP BY k, c", page_size=10),
        lambda pg, r: ("gc", pg, r["k"], r["c"], r["s"]),
    )
    # LIMIT counts across pages: 10 rows in pages of 4 -> [4, 4, 2]
    drain(
        db.pager("SELECT k, c FROM t LIMIT 10", page_size=4),
        lambda pg, r: ("lim", pg, r["k"], r["c"], None),
    )
    # global aggregation: one page (AggregationPartitionIterator)
    drain(
        db.pager("SELECT count(*) AS n FROM t", page_size=1),
        lambda pg, r: ("global", pg, None, None, r["n"]),
    )
    schema = T.StructType(
        [
            T.StructField("src", T.StringType()),
            T.StructField("page", T.IntegerType()),
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.IntegerType()),
            T.StructField("x", T.LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _paging_oracle() -> str:
    """Pages recomputed in SQL from the murmur3-twin token ORDER (the
    same kernel the engine's order expression uses, pre-folded to a
    rank per partition key — functions/murmur3.py is itself pinned to
    reference vectors)."""
    from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
    from cassandra_pmem_spark.cql.parser import _scalar_token

    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("c", T.IntegerType()),
            T.StructField("v", T.IntegerType()),
        ]
    )
    meta = TableMeta(
        "t", schema, partition_key=("k",), clustering=(ClusteringColumn("c"),)
    )
    order = sorted(range(6), key=lambda k: _scalar_token(meta, (k,)))
    tord = ", ".join(f"({k}, {r})" for r, k in enumerate(order))
    base = ", ".join(
        f"({k}, {c}, {10 * k + c})" for k in range(6) for c in range(4)
    )
    return f"""
WITH base(k, c, v) AS (VALUES {base}),
tord(k, r) AS (VALUES {tord}),
ordered AS (
  SELECT b.k, b.c, b.v, row_number() OVER (ORDER BY t.r, b.c) - 1 AS rn
  FROM base b JOIN tord t USING (k)
)
SELECT * FROM (
  SELECT 'rows' AS src, CAST(rn // 7 AS INT) AS page,
         k AS a, c AS b, CAST(v AS BIGINT) AS x
  FROM ordered
  UNION ALL
  SELECT 'groups', CAST(t.r // 4 AS INT), t.k, NULL, 4
  FROM tord t
  UNION ALL
  SELECT 'gc', CAST(rn // 10 AS INT), k, c, CAST(v AS BIGINT)
  FROM ordered
  UNION ALL
  SELECT 'lim', CAST(rn // 4 AS INT), k, c, NULL
  FROM ordered WHERE rn < 10
  UNION ALL
  SELECT 'global', 0, NULL, NULL, 24
) q
"""


QUERIES = {
    "cql_fn_terms": (cql_fn_terms, _FN_TERMS_ORACLE),
    "cql_trigger_audit": (cql_trigger_audit, _TRIGGER_AUDIT_ORACLE),
    "cql_paging": (cql_paging, _paging_oracle()),
    "cql_index_targets": (cql_index_targets, _INDEX_TARGETS_ORACLE),
    "cql_now_writes": (cql_now_writes, _now_oracle()),
    "cql_roles_grants": (cql_roles_grants, _ROLES_ORACLE),
    "cql_delete_tombstones": (cql_delete_tombstones, _DELETE_TOMBSTONES_ORACLE),
    "cql_list_cell_liveness": (cql_list_cell_liveness, _LIST_CELL_ORACLE),
    "cql_udt_field_writes": (cql_udt_field_writes, _UDT_FIELD_ORACLE),
    "cql_alter_type": (cql_alter_type, _ALTER_TYPE_ORACLE),
    "cql_agg_nested": (cql_agg_nested, _AGG_NESTED_ORACLE),
    "cql_system_schema": (cql_system_schema, _SYSTEM_SCHEMA_ORACLE),
    "cql_indexed_lookup": (cql_indexed_lookup, _INDEXED_LOOKUP_ORACLE),
    "cql_create_mv_statement": (cql_create_mv_statement, _CREATE_MV_ORACLE),
    "cql_udf_statement": (cql_udf_statement, _UDF_STMT_ORACLE),
    "cql_uda_statement": (cql_uda_statement, _UDA_STMT_ORACLE),
    "cql_map_cell_liveness": (cql_map_cell_liveness, _MAP_CELL_ORACLE),
    "cql_collection_text_ops": (cql_collection_text_ops, _COLLECTION_TEXT_ORACLE),
    "cql_lwt_conditional": (cql_lwt_conditional, _LWT_ORACLE),
    "cql_batch_apply": (cql_batch_apply, _BATCH_ORACLE),
    "cql_truncate_reload": (cql_truncate_reload, _TRUNCATE_ORACLE),
    "cql_udf_select": (cql_udf_select, _UDF_ORACLE),
    "mv_refresh_batch": (mv_refresh_batch, _MV_ORACLE),
    "bucketed_colocated_join": (bucketed_colocated_join, _BUCKETED_ORACLE),
}
