"""CQL read-semantics queries (SURVEY §2.1, §2.2, §2.6, §2.8, §2.9).

Each query exercises one reference operator through this package's public
surface (CqlTable / operators / functions) and carries the ANSI-SQL oracle
DuckDB runs on the same parquet. Column aliases match oracle aliases
exactly (driver hashes values under sorted column names).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_pmem_spark.catalog import TABLES, load_table
from cassandra_pmem_spark.cql.table import cql_table
from cassandra_pmem_spark.cql.validator import Op, validate_group_by
from cassandra_pmem_spark.functions.blob import bigint_as_blob, blob_as_bigint
from cassandra_pmem_spark.functions.json_fcts import to_json  # noqa: F401 (API surface)
from cassandra_pmem_spark.functions.murmur3 import murmur3_token_subquery, with_murmur3_token
from cassandra_pmem_spark.operators.aggregates import exact_double_sum
from cassandra_pmem_spark.operators.collections import element_at_index
from cassandra_pmem_spark.operators.counters import fold_counters
from cassandra_pmem_spark.operators.upsert import (
    filter_expired,
    upsert_lww_cells,
    upsert_lww_rows,
)


# ----- scans / restrictions --------------------------------------------------

def cql_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-partition read: full-pk point lookup
    (db/SinglePartitionReadCommand.java:395)."""
    return (
        cql_table(spark, "customer", sf_dir, strict=True)
        .select("c_name", "c_acctbal")
        .where("c_custkey", Op.EQ, 42)
        .df()
    )


def cql_multipoint_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-partition read: IN on partition key
    (SinglePartitionReadCommand.Group, :1088)."""
    return (
        cql_table(spark, "orders", sf_dir, strict=True)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .where("o_custkey", Op.IN, [1, 7, 42])
        .df()
    )


def cql_clustering_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-prefix slice + clustering-order ORDER BY
    (ClusteringIndexSliceFilter; SelectStatement.getSliceCommands:508)."""
    return (
        cql_table(spark, "orders", sf_dir, strict=True)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .where("o_custkey", Op.EQ, 42)
        .where("o_orderdate", Op.GTE, "1997-01-01")
        .order_by(("o_orderdate", False), ("o_orderkey", True))
        .df()
    )


def cql_per_partition_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER PARTITION LIMIT n (Parser.g:280; DataLimits.java:91,540-547):
    newest 3 orders per customer in clustering order (o_orderdate DESC,
    o_orderkey). orders is used because its clustering key is unique —
    lineitem has duplicate (l_orderkey, l_linenumber) pairs in the synthetic
    data, which would make the kept rows tie-broken arbitrarily."""
    return (
        cql_table(spark, "orders", sf_dir)
        .per_partition_limit(3)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .df()
    )


def cql_distinct_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT pk — one row per partition
    (SelectStatement.validateDistinctSelection:975; DataLimits.distinctLimits:113)."""
    return cql_table(spark, "orders", sf_dir, strict=True).distinct("o_custkey").df()


def cql_tuple_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column tuple relations through the parsed statement path:
    lexicographic slices AND the tuple-IN form ``(a, b) IN ((…), (…))``
    (cql3/restrictions/MultiColumnRestriction.java SliceRestriction +
    InRestrictionWithValues; Parser.g:443 tupleOfTupleOfIdentifiers)."""
    from cassandra_pmem_spark.cql.parser import execute_cql

    return execute_cql(
        spark,
        "SELECT l_orderkey, l_linenumber FROM lineitem "
        "WHERE (l_orderkey, l_linenumber) > (1000, 3) "
        "AND (l_orderkey, l_linenumber) <= (1200, 2) "
        "AND (l_orderkey, l_linenumber) IN "
        "((1000, 6), (1001, 1), (999999, 1))",
        sf_dir,
        strict=False,
    )


def cql_token_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token(pk) range scan in hash order (TokenRestriction.java:40,
    TokenFct.java:61) — bit-exact Cassandra Murmur3 tokens
    (Murmur3Partitioner.java:214, functions/murmur3.py), so the DuckDB
    oracle reproduces the exact values and order."""
    df = with_murmur3_token(load_table(spark, "customer", sf_dir), "c_custkey")
    return (
        df.filter(F.col("token") > 0)
        .orderBy("token")
        .select("c_custkey", "token")
        .limit(50)
    )


def cql_token_rhs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token(pk) op token(<key literal>) — the RHS token of a literal key
    (TokenFct.java:61; cql3/Relation token grammar), folded DRIVER-side
    to a scalar with the same serialization + Murmur3 the column side
    hashes with (parser._scalar_token). Runs through statement TEXT; the
    oracle recomputes the bound via the generated DuckDB murmur3 twin, so
    scalar-vs-column bit-exactness is what the hash match proves."""
    from cassandra_pmem_spark.cql.parser import execute_cql

    df = execute_cql(
        spark,
        "SELECT c_custkey, token(c_custkey) AS tok FROM customer "
        "WHERE token(c_custkey) > token(42)",
        sf_dir,
    )
    # deterministic top-40 in token order (the statement's own LIMIT
    # would take an arbitrary 40 — reference reads are token-ordered,
    # Spark scans are not)
    return df.orderBy("tok").limit(40)


def _token_rhs_oracle() -> str:
    from cassandra_pmem_spark.functions.murmur3 import murmur3_token_py

    bound = murmur3_token_py(42)  # deterministic — safe to inline
    return (
        f"SELECT c_custkey, token AS tok FROM "
        f"{murmur3_token_subquery('customer', 'c_custkey', ['c_custkey'])} "
        f"WHERE token > {bound} ORDER BY token LIMIT 40"
    )


def cql_token_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token() over a TEXT partition key (UTF8Type.java raw-utf8
    serialization into MurmurHash.hash3_x64_128, tail-only for keys
    < 16 bytes) — bit-exact general-length kernel, DuckDB twin generated
    per layout (functions/murmur3.py). The length gate keeps the generated
    tail-only twin valid by construction."""
    from cassandra_pmem_spark.functions.token import token_column

    nat = load_table(spark, "nation", sf_dir).filter(F.length("n_name") <= 15)
    tok = token_column(["n_name"], TABLES["nation"].schema)
    return (
        nat.withColumn("token", tok)
        .orderBy("token")
        .select("n_name", "token")
    )


def cql_token_scan_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token() over a COMPOSITE (bigint, bigint) partition key — the
    CompositeType.java length-prefixed serialization (2-byte length +
    value + 0x00 end-of-component per part, fixed 22 bytes) hashed with
    the general-length Murmur3 kernel; removes the round-2 xxhash64
    deviation for composite keys."""
    from cassandra_pmem_spark.functions.token import token_column

    ev = load_table(spark, "events", sf_dir).filter(F.col("event_id") < 2000)
    tok = token_column(["user_id", "event_id"], TABLES["events"].schema)
    return (
        ev.withColumn("token", tok)
        .filter(F.col("token") > 0)
        .orderBy("token")
        .select("user_id", "event_id", "token")
        .limit(100)
    )


def cql_token_scan_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token() over a TIMESTAMP partition key — TimestampType.java
    serializes epoch millis as a big-endian int64, so the key pre-converts
    JVM-side through unix_millis (timezone-exact) and rides the fixed-8
    bigint Murmur3 kernel; the DuckDB twin hashes epoch_ms(ts) through the
    same SQL step chain. Closes the round-3 deviation for temporal key
    types (Murmur3Partitioner.java:214-246)."""
    from cassandra_pmem_spark.functions.token import token_column

    ev = load_table(spark, "events", sf_dir).filter(F.col("event_id") < 1500)
    tok = token_column(["ts"], TABLES["events"].schema)
    return (
        ev.withColumn("token", tok)
        .orderBy("token")
        .select("event_id", "ts", "token")
    )


def cql_token_scan_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token() over UUID, TIMEUUID and INET partition keys — the three
    marshal types the covered set previously lacked (fell back to
    xxhash64). Wire forms per db/marshal/UUIDType.java and
    TimeUUIDType.java (16 bytes, msb||lsb big-endian — identical
    serialization, they differ only in clustering comparison order) and
    InetAddressType.java (the raw 4/16 address bytes), hashed with the
    general-length Murmur3 kernel (Murmur3Partitioner.java:214-246).
    Spark has no uuid/inet types, so the text columns are tagged via
    token_column(..., cql_types=...). Keys are derived deterministically
    from customer (md5 → canonical uuid; version nibble forced to 1 for
    the timeuuid; dotted-quad from the key) so the DuckDB twin rebuilds
    byte-identical inputs. The 16-byte uuid layout is the one key shape
    whose SQL twin runs a full body block with an empty tail."""
    from cassandra_pmem_spark.functions.token import token_column

    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_custkey") < 500)
    h = F.md5(F.col("c_name").cast("binary"))
    u = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    tu = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("1"), F.substring(h, 14, 3)),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    ck = F.col("c_custkey")
    ip = F.concat_ws(
        ".",
        F.lit("10"),
        (ck % 256).cast("string"),
        ((ck * 7) % 256).cast("string"),
        ((ck * 13) % 256).cast("string"),
    )
    df = cust.select("c_custkey", u.alias("u"), tu.alias("tu"), ip.alias("ip"))
    return (
        df.withColumn("token_uuid", token_column(["u"], cql_types={"u": "uuid"}))
        .withColumn("token_timeuuid", token_column(["tu"], cql_types={"tu": "timeuuid"}))
        .withColumn("token_inet", token_column(["ip"], cql_types={"ip": "inet"}))
        .select("c_custkey", "token_uuid", "token_timeuuid", "token_inet")
        .orderBy("token_uuid")
    )


def cql_token_scan_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token() over FROZEN collection / UDT partition keys — legal pk
    components the covered set previously lacked (fell back to xxhash64;
    CreateTableStatement.java:179 rejects only NON-frozen,
    FrozenCollectionsTest.java:55,186 creates frozen ones). Wire forms:
    CollectionSerializer.pack (serializers/CollectionSerializer.java:60 —
    int32 count + int32-length-prefixed elements; sets/maps
    comparator-sorted, SetSerializer.java:59 / MapSerializer.java:62) and
    TupleType.buildValue (db/marshal/TupleType.java:221 — length-prefixed
    fields, no count) hashed with the general-length Murmur3 kernel
    (Murmur3Partitioner.java:214-246). Keys are derived deterministically
    from c_custkey with NEGATIVE elements in three of the four shapes, so
    the DuckDB twin (fixed_layout_byte_exprs) proves two's-complement
    serialization too. Spark has no set type, so the set column's declared
    CQL type rides in cql_types={'fs': 'frozen<set<int>>'}; element order
    in the built array is descending to prove the comparator sort actually
    runs."""
    from cassandra_pmem_spark.functions.token import token_column

    k = F.col("c_custkey")
    cust = load_table(spark, "customer", sf_dir).filter(k < 400)
    df = cust.select(
        "c_custkey",
        F.array(k - 200, k * 3 + 1).alias("fl"),  # frozen<list<bigint>>
        # built big-first: {100+k%89, k%97-50} — serializer must sort
        F.array(
            (F.lit(100) + k % 89).cast("int"), (k % 97 - 50).cast("int")
        ).alias("fs"),  # frozen<set<int>>
        F.create_map((k % 50 - 25).cast("int"), k * 7).alias("fm"),  # frozen<map<int,bigint>>
        F.struct(k.alias("a"), (k % 13 - 6).cast("int").alias("b")).alias("fu"),  # frozen UDT
    )
    return (
        df.withColumn("t_list", token_column(["fl"], df.schema))
        .withColumn(
            "t_set",
            token_column(["fs"], df.schema, cql_types={"fs": "frozen<set<int>>"}),
        )
        .withColumn("t_map", token_column(["fm"], df.schema))
        .withColumn("t_udt", token_column(["fu"], df.schema))
        .select("c_custkey", "t_list", "t_set", "t_map", "t_udt")
        .orderBy("t_list")
    )


def _token_frozen_oracle() -> str:
    from cassandra_pmem_spark.functions.murmur3 import (
        fixed_layout_byte_exprs,
        murmur3_token_general_subquery,
    )

    def i32len(n: int) -> list:
        return [("const", b) for b in n.to_bytes(4, "big", signed=True)]

    src = "(SELECT c_custkey FROM customer WHERE c_custkey < 400)"
    # frozen<list<bigint>> [k-200, k*3+1]: count=2, two 8-byte elements
    exprs, flen = fixed_layout_byte_exprs(
        i32len(2)
        + i32len(8) + [("be", "c_custkey - 200", 8)]
        + i32len(8) + [("be", "c_custkey * 3 + 1", 8)]
    )
    s1 = murmur3_token_general_subquery(
        src, exprs, str(flen), ["c_custkey"], "t_list", fixed_len=flen
    )
    # frozen<set<int>> {k%97-50, 100+k%89} — sorted order is fixed by
    # construction (first ≤ 46 < 100 ≤ second), so the twin packs sorted
    exprs, flen = fixed_layout_byte_exprs(
        i32len(2)
        + i32len(4) + [("be", "c_custkey % 97 - 50", 4)]
        + i32len(4) + [("be", "100 + c_custkey % 89", 4)]
    )
    s2 = murmur3_token_general_subquery(
        s1, exprs, str(flen), ["c_custkey", "t_list"], "t_set", fixed_len=flen
    )
    # frozen<map<int,bigint>> {k%50-25: k*7}: one entry
    exprs, flen = fixed_layout_byte_exprs(
        i32len(1)
        + i32len(4) + [("be", "c_custkey % 50 - 25", 4)]
        + i32len(8) + [("be", "c_custkey * 7", 8)]
    )
    s3 = murmur3_token_general_subquery(
        s2, exprs, str(flen), ["c_custkey", "t_list", "t_set"], "t_map", fixed_len=flen
    )
    # frozen UDT (a bigint, b int): length-prefixed fields, no count
    exprs, flen = fixed_layout_byte_exprs(
        i32len(8) + [("be", "c_custkey", 8)]
        + i32len(4) + [("be", "c_custkey % 13 - 6", 4)]
    )
    s4 = murmur3_token_general_subquery(
        s3, exprs, str(flen), ["c_custkey", "t_list", "t_set", "t_map"], "t_udt",
        fixed_len=flen,
    )
    return (
        f"SELECT c_custkey, t_list, t_set, t_map, t_udt FROM {s4} "
        f"ORDER BY t_list"
    )


def cql_token_scan_frozen_num(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token() over frozen sets/maps whose element comparator is VALUE
    order, not serialized-byte order — the cases where the two diverge:

    - frozen<set<double>>: DoubleType.compareCustom (DoubleType.java:48-54)
      is compose().compareTo(), so a negative element (IEEE sign bit set,
      byte-greatest) must still pack FIRST;
    - frozen<set<varint>>: IntegerType.compareIntegers (IntegerType.java:
      70-73) is signed value order — a negative 4-byte varint (leading
      0xFF) packs before a positive one (leading 0x00);
    - frozen<map<double,bigint>>: entries sorted by the key comparator
      (MapSerializer.java:62), same value-order rule.

    Elements are built POSITIVE-FIRST so the comparator sort provably
    runs, and doubles are ±2^e so the DuckDB twin can reconstruct the
    exact IEEE-754 bit pattern from integer arithmetic
    (bits(2^e) = (1023+e)<<52, bits(-2^e) = 2^63 + (1023+e)<<52)."""
    from cassandra_pmem_spark.functions.token import token_column

    k = F.col("c_custkey")
    cust = load_table(spark, "customer", sf_dir).filter(k < 400)
    neg_d = -F.pow(F.lit(2.0), (k % 8).cast("double"))
    pos_d = F.pow(F.lit(2.0), (k % 5).cast("double"))
    df = cust.select(
        "c_custkey",
        F.array(pos_d, neg_d).alias("sd"),  # frozen<set<double>>
        F.array(
            (F.lit(8388608) + k % 97).cast("decimal(38,0)"),
            (F.lit(-8388609) - k % 89).cast("decimal(38,0)"),
        ).alias("sv"),  # frozen<set<varint>>, both 4-byte minimal varints
        F.create_map(pos_d, k * 11, neg_d, k * 7).alias("md"),
    )
    return (
        df.withColumn(
            "t_sd",
            token_column(["sd"], df.schema, cql_types={"sd": "frozen<set<double>>"}),
        )
        .withColumn(
            "t_sv",
            token_column(["sv"], df.schema, cql_types={"sv": "frozen<set<varint>>"}),
        )
        .withColumn("t_md", token_column(["md"], df.schema))
        .select("c_custkey", "t_sd", "t_sv", "t_md")
        .orderBy("t_sd")
    )


def _token_frozen_num_oracle() -> str:
    from cassandra_pmem_spark.functions.murmur3 import (
        fixed_layout_byte_exprs,
        murmur3_token_general_subquery,
    )

    def i32len(n: int) -> list:
        return [("const", b) for b in n.to_bytes(4, "big", signed=True)]

    # IEEE-754 bits of ±2^e as HUGEINT SQL (exact for integer e ≥ 0)
    p52 = "4503599627370496::HUGEINT"  # 2^52
    neg_bits = (
        f"(9223372036854775808::HUGEINT"
        f" + (1023 + (c_custkey % 8))::HUGEINT * {p52})"
    )
    pos_bits = f"((1023 + (c_custkey % 5))::HUGEINT * {p52})"
    src = "(SELECT c_custkey FROM customer WHERE c_custkey < 400)"
    # frozen<set<double>> packs the NEGATIVE (value-least) element first
    exprs, flen = fixed_layout_byte_exprs(
        i32len(2)
        + i32len(8) + [("be", neg_bits, 8)]
        + i32len(8) + [("be", pos_bits, 8)]
    )
    s1 = murmur3_token_general_subquery(
        src, exprs, str(flen), ["c_custkey"], "t_sd", fixed_len=flen
    )
    # frozen<set<varint>>: negative 4-byte varint first (value order)
    exprs, flen = fixed_layout_byte_exprs(
        i32len(2)
        + i32len(4) + [("be", "-8388609 - c_custkey % 89", 4)]
        + i32len(4) + [("be", "8388608 + c_custkey % 97", 4)]
    )
    s2 = murmur3_token_general_subquery(
        s1, exprs, str(flen), ["c_custkey", "t_sd"], "t_sv", fixed_len=flen
    )
    # frozen<map<double,bigint>>: entries key-sorted by value → the
    # negative-key entry (value k*7) packs first
    exprs, flen = fixed_layout_byte_exprs(
        i32len(2)
        + i32len(8) + [("be", neg_bits, 8)]
        + i32len(8) + [("be", "c_custkey * 7", 8)]
        + i32len(8) + [("be", pos_bits, 8)]
        + i32len(8) + [("be", "c_custkey * 11", 8)]
    )
    s3 = murmur3_token_general_subquery(
        s2, exprs, str(flen), ["c_custkey", "t_sd", "t_sv"], "t_md",
        fixed_len=flen,
    )
    return (
        f"SELECT c_custkey, t_sd, t_sv, t_md FROM {s3} ORDER BY t_sd"
    )


def cql_token_scan_frozen_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token() over frozen shapes with TIMESTAMP elements — the lane the
    covered set gained once nested timestamps were proven exact under
    the pinned-UTC session (functions/token.py: Arrow delivers them
    naive-UTC, so TimestampType.java's epoch-millis int64 is recovered
    bit-exactly inside CollectionSerializer.pack / TupleType.buildValue
    wire forms). Set elements sort by VALUE (TimestampType.java:55-60
    compares the longs), so the pre-1970 negative-millis element must
    pack FIRST despite its sign bit making it byte-greatest; elements
    are built positive-first to prove the sort runs. Timestamps come
    from timestamp_millis over integer arithmetic so the DuckDB twin
    reconstructs the exact serialization without timezone functions."""
    from cassandra_pmem_spark.functions.token import token_column

    k = F.col("c_custkey").cast("bigint")
    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_custkey") < 400)
    df = cust.select(
        "c_custkey",
        F.array(
            F.timestamp_millis(k * 1000003 - 200000000000),
            F.timestamp_millis(k * 86400000),
        ).alias("lt"),  # frozen<list<timestamp>>
        F.array(
            F.timestamp_millis(k * 777),  # positive-first: sort must run
            F.timestamp_millis(k * -999983),  # pre-1970
        ).alias("st"),  # frozen<set<timestamp>>
        F.struct(
            F.timestamp_millis(k * 3600000).alias("t"),
            (k % 23 - 11).cast("int").alias("n"),
        ).alias("ut"),  # frozen UDT (timestamp, int)
    )
    return (
        df.withColumn("t_lts", token_column(["lt"], df.schema))
        .withColumn(
            "t_sts",
            token_column(
                ["st"], df.schema, cql_types={"st": "frozen<set<timestamp>>"}
            ),
        )
        .withColumn("t_uts", token_column(["ut"], df.schema))
        .select("c_custkey", "t_lts", "t_sts", "t_uts")
        .orderBy("t_lts")
    )


def _token_frozen_ts_oracle() -> str:
    from cassandra_pmem_spark.functions.murmur3 import (
        fixed_layout_byte_exprs,
        murmur3_token_general_subquery,
    )

    def i32len(n: int) -> list:
        return [("const", b) for b in n.to_bytes(4, "big", signed=True)]

    src = "(SELECT c_custkey FROM customer WHERE c_custkey < 400)"
    # frozen<list<timestamp>>: count 2, 8-byte epoch-millis elements
    exprs, flen = fixed_layout_byte_exprs(
        i32len(2)
        + i32len(8)
        + [("be", "c_custkey::BIGINT * 1000003 - 200000000000", 8)]
        + i32len(8) + [("be", "c_custkey::BIGINT * 86400000", 8)]
    )
    s1 = murmur3_token_general_subquery(
        src, exprs, str(flen), ["c_custkey"], "t_lts", fixed_len=flen
    )
    # frozen<set<timestamp>>: value order → the pre-1970 element first
    exprs, flen = fixed_layout_byte_exprs(
        i32len(2)
        + i32len(8) + [("be", "c_custkey::BIGINT * -999983", 8)]
        + i32len(8) + [("be", "c_custkey::BIGINT * 777", 8)]
    )
    s2 = murmur3_token_general_subquery(
        s1, exprs, str(flen), ["c_custkey", "t_lts"], "t_sts", fixed_len=flen
    )
    # frozen UDT (timestamp, int): length-prefixed fields, no count
    exprs, flen = fixed_layout_byte_exprs(
        i32len(8) + [("be", "c_custkey::BIGINT * 3600000", 8)]
        + i32len(4) + [("be", "c_custkey % 23 - 11", 4)]
    )
    s3 = murmur3_token_general_subquery(
        s2, exprs, str(flen), ["c_custkey", "t_lts", "t_sts"], "t_uts",
        fixed_len=flen,
    )
    return (
        f"SELECT c_custkey, t_lts, t_sts, t_uts FROM {s3} ORDER BY t_lts"
    )


def cql_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINS on a set<text> column (Operator.java:117) — the collection is
    materialized per partition (collect_set), then filtered."""
    orders = load_table(spark, "orders", sf_dir)
    g = orders.groupBy("o_custkey").agg(
        F.collect_set("o_orderpriority").alias("prios"),
        F.count("*").alias("n_orders"),
    )
    return g.filter(F.array_contains("prios", "1-URGENT")).select("o_custkey", "n_orders")


def cql_map_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-entry predicate m[k] > v (RowFilter.MapEqualityExpression:496 —
    extended to inequality) over a map built from JSON props (fromjson)."""
    ev = load_table(spark, "events", sf_dir)
    k_val = F.regexp_extract("props", '"k": ([0-9]+)', 1).cast("int")
    m = F.create_map(F.lit("k"), k_val)
    return (
        ev.withColumn("k_val", m.getItem("k"))
        .filter(F.col("k_val") > 50)
        .select("event_id", "user_id", "k_val")
    )


def cql_collection_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection element + slice selection (ElementsSelector.java:102,:163)."""
    docs = load_table(spark, "documents", sf_dir)
    words = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        element_at_index(words, 0).alias("first_word"),
        F.array_join(F.slice(words, 1, 3), " ").alias("first3"),
        F.size(words).cast("long").alias("n_words"),
    )


def cql_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE prefix/contains (Operator.java:192-256; SASI Expression.Op)."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.filter(
        F.col("text").like("data %") | F.col("text").like("%vector table%")
    ).select("doc_id", "lang")


# ----- write-semantics emulation ---------------------------------------------

def cql_upsert_lww_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-granular upsert LWW (ModificationStatement.java:66): events as a
    mutation log keyed by user_id, writetime = event_id."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type", "value", "event_id")
    latest = upsert_lww_rows(ev, key=["user_id"], writetime_col="event_id")
    return latest.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.col("event_id").alias("last_writetime"),
    )


def cql_upsert_lww_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-granular LWW (db/rows/Cells reconcile; SURVEY §7 risk register):
    'view' events write only the event_type cell (value=null), so the
    surviving value may come from an older write than the surviving type."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.col("event_type"),
        F.when(F.col("event_type") != "view", F.col("value")).alias("value"),
        F.col("event_id").alias("writetime"),
    )
    cells = upsert_lww_cells(
        ev, key=["user_id"], value_cols=["event_type", "value"], writetime_col="writetime"
    )
    return cells.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("_writetime_event_type").alias("type_wt"),
        F.col("value").alias("last_value"),
        F.col("_writetime_value").alias("value_wt"),
    )


def cql_ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USING TTL read-time expiry (db/LivenessInfo.java; TTL cap
    CASSANDRA-14092): 7-day TTL, frozen 'now' for determinism."""
    ev = load_table(spark, "events", sf_dir).withColumn(
        "expiry_ts", F.col("ts") + F.expr("INTERVAL 7 DAYS")
    )
    live = filter_expired(ev, "expiry_ts", now="2024-01-20 00:00:00")
    return live.groupBy("event_type").agg(F.count("*").alias("n_live"))


def cql_collection_writetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell writetime/TTL on a multi-cell map column (db/rows/Cell.java
    — one liveness per cell; Cells.reconcile; WritetimeOrTTLSelector.java:
    WRITETIME(m) is the key-ordered per-cell timestamp list, and
    WRITETIME(m['k']) / TTL(m['k']) read one cell's liveness).

    The events log is read as a cell-mutation stream over a
    map<text,bigint> keyed by event_type: 'view' events write a cell
    tombstone (null value), 'click' cells carry a 7-day TTL, everything
    reconciles per cell (merge_collection_cells) and is read at a frozen
    now — so within one user's map, expired click cells vanish while
    sibling cells survive, which is exactly the element-granular liveness
    a per-column shadow cannot express."""
    from cassandra_pmem_spark.operators.collections import merge_collection_cells

    now = "2024-01-20 00:00:00"
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.col("event_type").alias("ck"),
        F.when(
            F.col("event_type") != "view",
            F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("long"),
        ).alias("v"),
        F.col("event_id").alias("writetime"),
        F.when(
            F.col("event_type") == "click", F.col("ts") + F.expr("INTERVAL 7 DAYS")
        ).alias("expiry_ts"),
    )
    cells = merge_collection_cells(
        ev,
        key=["user_id"],
        cell_key_col="ck",
        value_col="v",
        writetime_col="writetime",
        expiry_col="expiry_ts",
        now=now,
    )
    ent = F.array_sort(F.collect_list(F.struct("ck", "v", "writetime")))
    g = cells.groupBy("user_id").agg(
        ent.alias("ent"),
        F.max(F.when(F.col("ck") == "click", F.col("writetime"))).alias("click_wt"),
        F.max(F.when(F.col("ck") == "click", F.col("expiry_ts"))).alias("click_exp"),
        F.count("*").alias("n_cells"),
    )
    # Driver-facing outputs are scalar (see cql_collection_mutations): the
    # key-ordered map and its per-cell writetime list join to strings.
    fmt = lambda field: F.array_join(  # noqa: E731
        F.transform("ent", lambda e: F.concat(e["ck"], F.lit(":"), e[field].cast("string"))),
        ",",
    )
    ttl = F.unix_timestamp("click_exp") - F.unix_timestamp(F.lit(now).cast("timestamp"))
    return g.select(
        "user_id",
        fmt("v").alias("map_col"),
        fmt("writetime").alias("wt_col"),
        F.col("click_wt"),
        ttl.cast("long").alias("click_ttl"),
        F.col("n_cells"),
    )


def cql_counter_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter materialization (db/CounterMutation.java:49): sum of an
    increments log, delta = floor(value*100)."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.floor(F.col("value") * 100).cast("long").alias("delta")
    )
    return fold_counters(ev, key=["user_id"], delta_col="delta")


# ----- selection / functions ---------------------------------------------------

def cql_select_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT JSON row form (Selectable.WithToJSonFunction:389; Json.java:34)."""
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 100)
    return orders.select(
        "o_orderkey",
        F.to_json(F.struct("o_orderkey", "o_orderstatus", "o_orderpriority")).alias("json_row"),
    )


def cql_cast_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cast() + typed arithmetic (CastFcts.java:61-85; OperationFcts.java:36-98):
    double→bigint narrowing, integer div/mod."""
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_orderkey") < 300)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty_int"),
        F.expr("l_orderkey div 3").alias("key_div"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


def cql_time_fcts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """todate/totimestamp/tounixtimestamp (TimeFcts.java:149,170,191)."""
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 200)
    return orders.select(
        "o_orderkey",
        # ISO string, not DateType: Spark dates collect as pandas `object`
        # vs DuckDB's datetime64 — a permanent gate dtype warning that
        # would mask a real object-dtype regression (both sides cast)
        F.to_date("o_orderdate").cast("string").alias("odate"),
        F.unix_millis(F.col("o_orderdate")).alias("epoch_ms"),
        F.to_timestamp(F.to_date("o_orderdate")).alias("ts_day"),
    )


def cql_blob_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """blobAsX/XAsBlob reinterpret casts (BytesConversionFcts.java:36) —
    round 4 extends the exercised pairs beyond bigint: int (negative-safe
    4-byte), smallint, timestamp (epoch-millis int64, via unix_millis so
    the hex is timezone-exact), and a boolean byte; each emitted as the
    serialized hex plus the round-tripped value so DuckDB can recompute
    both sides of the reinterpretation."""
    from cassandra_pmem_spark.functions import blob as B

    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 100)
    blob = bigint_as_blob("o_orderkey")
    negkey = (F.col("o_orderkey") * -1).cast("int")
    smallk = (F.col("o_orderkey") % 1000).cast("short")
    is_urgent = F.col("o_orderpriority") == "1-URGENT"
    return orders.select(
        "o_orderkey",
        F.lower(F.hex(blob)).alias("hex16"),
        blob_as_bigint(blob).alias("roundtrip"),
        F.lower(F.hex(B.int_as_blob(negkey))).alias("neg_int_hex"),
        B.blob_as_int(B.int_as_blob(negkey)).alias("neg_int_rt"),
        B.blob_as_smallint(B.smallint_as_blob(smallk)).alias("small_rt"),
        F.lower(F.hex(B.timestamp_as_blob("o_orderdate"))).alias("ts_hex"),
        B.blob_as_timestamp(B.timestamp_as_blob("o_orderdate")).alias("ts_rt"),
        F.lower(F.hex(B.boolean_as_blob(is_urgent))).alias("bool_hex"),
    )


def cql_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reversed clustering read on the time-series table (FIXTURES F10;
    ClusteringIndexSliceFilter reversed flag; TWCS latest-first pattern):
    the newest 3 events per user — PER PARTITION LIMIT against the
    reversed clustering order (ts DESC, event_id DESC)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "ts", "event_id", "event_type", F.col("rn").cast("int").alias("rn"))
    )


def cql_parsed_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CQL-text entry point A (QueryProcessor.process:236 → parse → prepare
    → execute): a statement string through cql/parser.py with strict gates
    and a bind marker (prepared-statement analog)."""
    from cassandra_pmem_spark.cql.parser import execute_cql

    return execute_cql(
        spark,
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
        "WHERE o_custkey = ? ORDER BY o_orderdate DESC, o_orderkey ASC",
        sf_dir,
        params=[42],
    )


def cql_allow_filtering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALLOW FILTERING strict-gate BOTH ways through the text surface
    (StatementRestrictions.java:556 "Cannot execute this query ... use
    ALLOW FILTERING"): the same non-key predicate is rejected without the
    clause (asserted in-line) and executes with it — upgrading the gate
    from unit-only to driver-gated evidence. Oracle: plain SQL over the
    same predicate."""
    from cassandra_pmem_spark.cql.parser import execute_cql
    from cassandra_pmem_spark.cql.validator import InvalidRequest

    bare = (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_totalprice > 480000"
    )
    try:
        execute_cql(spark, bare, sf_dir)
        raise AssertionError("non-key predicate must require ALLOW FILTERING")
    except InvalidRequest:
        pass
    return execute_cql(spark, bare + " ALLOW FILTERING", sf_dir)


def cql_term_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-literal terms in the selection clause (CASSANDRA-9243;
    cql3/selection/Selectable.WithTerm): int, float, and string constants
    projected alongside columns through the CQL text path."""
    from cassandra_pmem_spark.cql.parser import execute_cql

    return execute_cql(
        spark,
        "SELECT o_orderkey, 42 AS answer, 2.5 AS ratio, 'tagged' AS tag "
        "FROM orders WHERE o_custkey = 7",
        sf_dir,
    )


def cql_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fromjson(s) typed parsing (FromJsonFct.java:79; Json.parseJson:281):
    events.props JSON text → typed struct, filtered on the parsed field."""
    ev = load_table(spark, "events", sf_dir)
    parsed = F.from_json(F.col("props"), "struct<k:int>")
    return (
        ev.withColumn("k", parsed.getField("k"))
        .filter((F.col("k") % 10) == 0)
        .select("event_id", "user_id", "k")
    )


# ----- aggregation -------------------------------------------------------------

def cql_group_by_pk_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY pk prefix (AggregationSpecification.AGGREGATE_BY_PK_PREFIX:56;
    GroupMaker.java:78) with typed aggregates, over the CQL read path's
    base scan (a one-task table aggregates without a shuffle)."""
    validate_group_by(TABLES["lineitem"], ["l_orderkey"])  # strict-mode gate
    li = cql_table(spark, "lineitem", sf_dir, strict=True).df()
    return li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"),
        exact_double_sum("l_quantity").alias("sum_qty"),
        F.max("l_extendedprice").alias("max_price"),
    )


def cql_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregation, one row (AggregationSpecification.AGGREGATE_EVERYTHING:37)
    incl. CQL integer-avg truncation (AggregateFcts.java:431-446)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        exact_double_sum("l_quantity").alias("sum_qty"),
        F.expr("sum(l_linenumber) div count(l_linenumber)").cast("int").alias("avg_line_trunc"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


def _token_text_oracle() -> str:
    from cassandra_pmem_spark.functions.murmur3 import (
        murmur3_token_general_subquery,
        text_key_byte_exprs,
    )

    exprs, len_expr = text_key_byte_exprs("n_name", 15)
    sub = murmur3_token_general_subquery(
        "(SELECT n_name FROM nation WHERE octet_length(encode(n_name)) <= 15)",
        exprs,
        len_expr,
        ["n_name"],
    )
    return f"SELECT n_name, token FROM {sub} ORDER BY token"


def _token_composite_oracle() -> str:
    from cassandra_pmem_spark.functions.murmur3 import (
        bigint_pair_composite_byte_exprs,
        murmur3_token_general_subquery,
    )

    exprs, flen = bigint_pair_composite_byte_exprs("user_id", "event_id")
    sub = murmur3_token_general_subquery(
        "(SELECT user_id, event_id FROM events WHERE event_id < 2000)",
        exprs,
        str(flen),
        ["user_id", "event_id"],
        fixed_len=flen,
    )
    # MATERIALIZED stops DuckDB pushing `token > 0` down the ~60-step hash
    # chain — the pushdown substitutes each step's definition into the
    # predicate and the expression re-expands exponentially (same binder
    # behavior the per-step nesting works around; see functions/murmur3.py)
    return (
        f"WITH tok AS MATERIALIZED (SELECT * FROM {sub}) "
        f"SELECT user_id, event_id, token FROM tok "
        f"WHERE token > 0 ORDER BY token LIMIT 100"
    )


def _token_uuid_oracle() -> str:
    from cassandra_pmem_spark.functions.murmur3 import (
        inet4_key_byte_exprs,
        murmur3_token_general_subquery,
        uuid_key_byte_exprs,
    )

    src = (
        "(SELECT c_custkey, "
        "concat_ws('-', substr(h,1,8), substr(h,9,4), substr(h,13,4), "
        "substr(h,17,4), substr(h,21,12)) AS u, "
        "concat_ws('-', substr(h,1,8), substr(h,9,4), '1' || substr(h,14,3), "
        "substr(h,17,4), substr(h,21,12)) AS tu, "
        "concat_ws('.', '10', (c_custkey % 256)::VARCHAR, "
        "((c_custkey * 7) % 256)::VARCHAR, ((c_custkey * 13) % 256)::VARCHAR) AS ip "
        "FROM (SELECT c_custkey, md5(c_name) AS h FROM customer "
        "WHERE c_custkey < 500))"
    )
    be_u, _ = uuid_key_byte_exprs("u")
    s1 = murmur3_token_general_subquery(
        src, be_u, "16", ["c_custkey", "tu", "ip"], "token_uuid", fixed_len=16
    )
    be_tu, _ = uuid_key_byte_exprs("tu")
    s2 = murmur3_token_general_subquery(
        s1, be_tu, "16", ["c_custkey", "ip", "token_uuid"], "token_timeuuid", fixed_len=16
    )
    be_ip, _ = inet4_key_byte_exprs("ip")
    s3 = murmur3_token_general_subquery(
        s2,
        be_ip,
        "4",
        ["c_custkey", "token_uuid", "token_timeuuid"],
        "token_inet",
        fixed_len=4,
    )
    return (
        f"SELECT c_custkey, token_uuid, token_timeuuid, token_inet FROM {s3} "
        f"ORDER BY token_uuid"
    )


_COLLECTION_WRITETIME_ORACLE = """
WITH cells AS (
  SELECT user_id, event_type AS ck,
         CASE WHEN event_type <> 'view'
              THEN floor(coalesce(value, 0) * 100)::BIGINT END AS v,
         event_id AS wt,
         CASE WHEN event_type = 'click' THEN ts + INTERVAL 7 DAY END AS exp
  FROM events
), newest AS (
  SELECT user_id, ck, v, wt, exp,
         row_number() OVER (PARTITION BY user_id, ck
                            ORDER BY wt DESC, (v IS NULL) DESC, v DESC) AS rn
  FROM cells
), live AS (
  SELECT * FROM newest
  WHERE rn = 1 AND v IS NOT NULL
    AND (exp IS NULL OR exp > TIMESTAMP '2024-01-20 00:00:00')
)
SELECT user_id,
       string_agg(ck || ':' || v::VARCHAR, ',' ORDER BY ck) AS map_col,
       string_agg(ck || ':' || wt::VARCHAR, ',' ORDER BY ck) AS wt_col,
       max(CASE WHEN ck = 'click' THEN wt END) AS click_wt,
       date_diff('second', TIMESTAMP '2024-01-20 00:00:00',
                 max(CASE WHEN ck = 'click' THEN exp END)) AS click_ttl,
       count(*) AS n_cells
FROM live
GROUP BY user_id
"""


QUERIES = {
    "cql_point_lookup": (
        cql_point_lookup,
        "SELECT c_name, c_acctbal FROM customer WHERE c_custkey = 42",
    ),
    "cql_multipoint_in": (
        cql_multipoint_in,
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders "
        "WHERE o_custkey IN (1, 7, 42)",
    ),
    "cql_clustering_slice": (
        cql_clustering_slice,
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
        "WHERE o_custkey = 42 AND o_orderdate >= TIMESTAMP '1997-01-01'",
    ),
    "cql_per_partition_limit": (
        cql_per_partition_limit,
        "SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM ("
        "  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,"
        "         row_number() OVER (PARTITION BY o_custkey"
        "           ORDER BY o_orderdate DESC, o_orderkey) AS rn"
        "  FROM orders) WHERE rn <= 3",
    ),
    "cql_distinct_partitions": (
        cql_distinct_partitions,
        "SELECT DISTINCT o_custkey FROM orders",
    ),
    "cql_tuple_relation": (
        cql_tuple_relation,
        # lexicographic expansion: DuckDB folds two struct comparisons on the
        # same operand into an (unsupported) struct BETWEEN; the IN list
        # expands to per-pair equality
        "SELECT l_orderkey, l_linenumber FROM lineitem "
        "WHERE (l_orderkey > 1000 OR (l_orderkey = 1000 AND l_linenumber > 3)) "
        "AND (l_orderkey < 1200 OR (l_orderkey = 1200 AND l_linenumber <= 2)) "
        "AND ((l_orderkey = 1000 AND l_linenumber = 6) "
        "OR (l_orderkey = 1001 AND l_linenumber = 1) "
        "OR (l_orderkey = 999999 AND l_linenumber = 1))",
    ),
    "cql_token_rhs": (cql_token_rhs, _token_rhs_oracle()),
    "cql_token_scan": (
        cql_token_scan,
        f"SELECT c_custkey, token FROM "
        f"{murmur3_token_subquery('customer', 'c_custkey', ['c_custkey'])} "
        f"WHERE token > 0 ORDER BY token LIMIT 50",
    ),
    "cql_token_scan_text": (
        cql_token_scan_text,
        _token_text_oracle(),
    ),
    "cql_token_scan_composite": (
        cql_token_scan_composite,
        _token_composite_oracle(),
    ),
    "cql_token_scan_uuid": (
        cql_token_scan_uuid,
        _token_uuid_oracle(),
    ),
    "cql_token_scan_frozen": (
        cql_token_scan_frozen,
        _token_frozen_oracle(),
    ),
    "cql_token_scan_frozen_num": (
        cql_token_scan_frozen_num,
        _token_frozen_num_oracle(),
    ),
    "cql_token_scan_frozen_ts": (
        cql_token_scan_frozen_ts,
        _token_frozen_ts_oracle(),
    ),
    "cql_collection_writetime": (
        cql_collection_writetime,
        _COLLECTION_WRITETIME_ORACLE,
    ),
    "cql_token_scan_timestamp": (
        cql_token_scan_timestamp,
        f"SELECT event_id, ts, token FROM "
        f"{murmur3_token_subquery('(SELECT event_id, ts, epoch_ms(ts) AS ts_ms FROM events WHERE event_id < 1500)', 'ts_ms', ['event_id', 'ts'])} "
        f"ORDER BY token",
    ),
    "cql_contains": (
        cql_contains,
        "SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey "
        "HAVING bool_or(o_orderpriority = '1-URGENT')",
    ),
    "cql_map_entry": (
        cql_map_entry,
        "SELECT event_id, user_id, CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS INT) AS k_val "
        "FROM events WHERE CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS INT) > 50",
    ),
    "cql_collection_access": (
        cql_collection_access,
        "SELECT doc_id, string_split(text, ' ')[1] AS first_word, "
        "array_to_string(string_split(text, ' ')[1:3], ' ') AS first3, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents",
    ),
    "cql_like": (
        cql_like,
        "SELECT doc_id, lang FROM documents "
        "WHERE text LIKE 'data %' OR text LIKE '%vector table%'",
    ),
    "cql_upsert_lww_rows": (
        cql_upsert_lww_rows,
        "SELECT user_id, max_by(event_type, event_id) AS last_type, "
        "max_by(value, event_id) AS last_value, max(event_id) AS last_writetime "
        "FROM events GROUP BY user_id",
    ),
    "cql_upsert_lww_cells": (
        cql_upsert_lww_cells,
        "SELECT user_id, max_by(event_type, event_id) AS last_type, "
        "max(event_id) AS type_wt, "
        "max_by(CASE WHEN event_type <> 'view' THEN value END, "
        "       CASE WHEN event_type <> 'view' THEN event_id END) AS last_value, "
        "max(CASE WHEN event_type <> 'view' THEN event_id END) AS value_wt "
        "FROM events GROUP BY user_id",
    ),
    "cql_ttl_expiry": (
        cql_ttl_expiry,
        "SELECT event_type, count(*) AS n_live FROM events "
        "WHERE ts + INTERVAL 7 DAY > TIMESTAMP '2024-01-20 00:00:00' GROUP BY event_type",
    ),
    "cql_counter_fold": (
        cql_counter_fold,
        "SELECT user_id, CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS delta "
        "FROM events GROUP BY user_id",
    ),
    "cql_select_json": (
        cql_select_json,
        "SELECT o_orderkey, to_json(struct_pack(o_orderkey := o_orderkey, "
        "o_orderstatus := o_orderstatus, o_orderpriority := o_orderpriority)) AS json_row "
        "FROM orders WHERE o_orderkey < 100",
    ),
    "cql_latest_events": (
        cql_latest_events,
        "SELECT user_id, ts, event_id, event_type, rn FROM ("
        "  SELECT user_id, ts, event_id, event_type,"
        "         CAST(row_number() OVER (PARTITION BY user_id"
        "              ORDER BY ts DESC, event_id DESC) AS INT) AS rn"
        "  FROM events) WHERE rn <= 3",
    ),
    "cql_parsed_select": (
        cql_parsed_select,
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders WHERE o_custkey = 42",
    ),
    "cql_term_select": (
        cql_term_select,
        "SELECT o_orderkey, 42 AS answer, 2.5 AS ratio, 'tagged' AS tag "
        "FROM orders WHERE o_custkey = 7",
    ),
    "cql_allow_filtering": (
        cql_allow_filtering,
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_totalprice > 480000",
    ),
    "cql_from_json": (
        cql_from_json,
        "SELECT event_id, user_id, CAST(props->>'k' AS INT) AS k FROM events "
        "WHERE CAST(props->>'k' AS INT) % 10 = 0",
    ),
    "cql_cast_arithmetic": (
        cql_cast_arithmetic,
        "SELECT l_orderkey, l_linenumber, "
        "CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents, "
        "CAST(floor(l_quantity) AS BIGINT) AS qty_int, "
        "l_orderkey // 3 AS key_div, l_orderkey % 7 AS key_mod "
        "FROM lineitem WHERE l_orderkey < 300",
    ),
    "cql_time_fcts": (
        cql_time_fcts,
        "SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate, "
        "epoch_ms(o_orderdate) AS epoch_ms, "
        "CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS ts_day "
        "FROM orders WHERE o_orderkey < 200",
    ),
    "cql_blob_conv": (
        cql_blob_conv,
        "SELECT o_orderkey, lower(lpad(to_hex(o_orderkey), 16, '0')) AS hex16, "
        "o_orderkey AS roundtrip, "
        "lower(lpad(to_hex((4294967296 - o_orderkey) % 4294967296), 8, '0')) AS neg_int_hex, "
        "CAST(-o_orderkey AS INT) AS neg_int_rt, "
        "CAST(o_orderkey % 1000 AS SMALLINT) AS small_rt, "
        "lower(lpad(to_hex(epoch_ms(o_orderdate)), 16, '0')) AS ts_hex, "
        "o_orderdate AS ts_rt, "
        "CASE WHEN o_orderpriority = '1-URGENT' THEN '01' ELSE '00' END AS bool_hex "
        "FROM orders WHERE o_orderkey < 100",
    ),
    "cql_group_by_pk_prefix": (
        cql_group_by_pk_prefix,
        "SELECT l_orderkey, count(*) AS n_lines, "
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_qty, "
        "max(l_extendedprice) AS max_price FROM lineitem GROUP BY l_orderkey",
    ),
    "cql_global_agg": (
        cql_global_agg,
        "SELECT count(*) AS n_rows, count(DISTINCT l_partkey) AS n_parts, "
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_qty, "
        "CAST(SUM(l_linenumber) // COUNT(l_linenumber) AS INT) AS avg_line_trunc, "
        "min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship FROM lineitem",
    ),
}
