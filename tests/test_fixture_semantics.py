"""FIXTURES.md F3/F7/F8 semantics — composite partition keys, the full
native-type mapping round-trips, and UDT/tuple structs (patterns of
SelectGroupByTest.java:481, TypeTest.java, UserTypesTest.java /
TupleTypeTest.java).
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
from cassandra_pmem_spark.cql.table import CqlTable
from cassandra_pmem_spark.cql.validator import InvalidRequest, Op
from cassandra_pmem_spark.functions.casts import cql_cast

# ---- F3: composite partition key --------------------------------------------

F3 = TableMeta(
    "composite_pk",
    T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.IntegerType()),
            T.StructField("c", T.IntegerType()),
            T.StructField("d", T.IntegerType()),
            T.StructField("e", T.IntegerType()),
        ]
    ),
    partition_key=("a", "b"),
    clustering=(ClusteringColumn("c"), ClusteringColumn("d")),
)


@pytest.fixture(scope="module")
def f3_df(spark):
    rows = [
        (a, b, c, d, a * 1000 + b * 100 + c * 10 + d)
        for a in (1, 2)
        for b in (1, 2)
        for c in (1, 2, 3)
        for d in (1, 2)
    ]
    return spark.createDataFrame(rows, F3.schema)


class TestCompositePartitionKey:
    def test_full_pk_eq_point_lookup(self, f3_df):
        t = CqlTable(f3_df, F3, strict=True)
        got = t.where("a", Op.EQ, 1).where("b", Op.EQ, 2).df().count()
        assert got == 6  # 3 c-values × 2 d-values

    def test_partial_composite_pk_rejected(self, f3_df):
        t = CqlTable(f3_df, F3, strict=True)
        with pytest.raises(InvalidRequest, match="Partition key"):
            t.where("a", Op.EQ, 1).df()

    def test_token_over_composite_key(self, f3_df):
        t = CqlTable(f3_df, F3)
        out = t.where_token(Op.GT, -(2**63)).df()
        assert out.count() == f3_df.count()  # full range ⇒ everything, hash-ordered scan

    def test_group_by_composite_prefix(self, f3_df):
        from cassandra_pmem_spark.cql.validator import validate_group_by

        validate_group_by(F3, ["a", "b"])
        validate_group_by(F3, ["a", "b", "c"])
        with pytest.raises(InvalidRequest):
            validate_group_by(F3, ["b"])  # not a prefix
        with pytest.raises(InvalidRequest):
            validate_group_by(F3, ["a", "c"])  # skips b

    def test_distinct_composite_partitions(self, f3_df):
        t = CqlTable(f3_df, F3, strict=True)
        assert t.distinct("a", "b").df().count() == 4


# ---- F7: all native types round-trips ---------------------------------------

F7_SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField("c_ascii", T.StringType()),
        T.StructField("c_bigint", T.LongType()),
        T.StructField("c_blob", T.BinaryType()),
        T.StructField("c_bool", T.BooleanType()),
        T.StructField("c_date", T.DateType()),
        T.StructField("c_dec", T.DecimalType(38, 18)),
        T.StructField("c_double", T.DoubleType()),
        T.StructField("c_float", T.FloatType()),
        T.StructField("c_small", T.ShortType()),
        T.StructField("c_text", T.StringType()),
        T.StructField("c_time", T.LongType()),          # nanos since midnight
        T.StructField("c_ts", T.TimestampType()),
        T.StructField("c_tuuid", T.StringType()),
        T.StructField("c_tuuid_ts", T.TimestampType()),  # timeuuid shadow
        T.StructField("c_tiny", T.ByteType()),
        T.StructField("c_uuid", T.StringType()),
        T.StructField("c_varint", T.DecimalType(38, 0)),
    ]
)


@pytest.fixture(scope="module")
def f7_df(spark):
    rows = [
        (
            1, "ascii", 2**40, b"\x01\x02", True,
            datetime.date(2024, 2, 29), Decimal("1.5"), 2.5, 0.5,
            12, "text", 3_600_000_000_000, datetime.datetime(2024, 1, 1, 12, 0, 0),
            "11111111-1111-1111-1111-111111111111", datetime.datetime(2024, 1, 1, 0, 0, 1),
            7, "22222222-2222-2222-2222-222222222222", Decimal(10**20),
        ),
        (
            2, "b", -5, b"\xff", False,
            datetime.date(1970, 1, 1), Decimal("-2.25"), -1.5, 1.25,
            -3, "zzz", 0, datetime.datetime(2024, 1, 2, 0, 0, 0),
            "33333333-3333-3333-3333-333333333333", datetime.datetime(2024, 1, 1, 0, 0, 0),
            -8, "44444444-4444-4444-4444-444444444444", Decimal(-7),
        ),
    ]
    return spark.createDataFrame(rows, F7_SCHEMA)


class TestTypesAll:
    def test_numeric_cast_matrix_java_narrowing(self, f7_df):
        """CastFcts pairwise numeric casts: Java narrowing truncates toward
        zero (CastFcts.java:61-85; ansi off ⇒ Spark matches)."""
        row = f7_df.filter(F.col("k") == 2).select(
            cql_cast("c_double", "int").alias("d2i"),
            cql_cast("c_dec", "bigint").alias("dec2l"),
            cql_cast("c_float", "smallint").alias("f2s"),
            cql_cast("c_bigint", "tinyint").alias("l2t"),
        ).collect()[0]
        assert row["d2i"] == -1      # -1.5 truncates toward zero
        assert row["dec2l"] == -2    # -2.25 → -2
        assert row["f2s"] == 1
        assert row["l2t"] == -5

    def test_cast_as_text_everything(self, f7_df):
        from cassandra_pmem_spark.functions.casts import cast_as_text

        out = f7_df.select(
            *[cast_as_text(f.name).alias(f.name) for f in F7_SCHEMA.fields if f.name != "c_blob"]
        ).collect()
        assert all(all(isinstance(v, (str, type(None))) for v in row) for row in out)

    def test_json_roundtrip_nested(self, f7_df):
        """tojson → fromjson round trip (ToJsonFct/FromJsonFct; JsonTest.java
        pattern) over a representative subset."""
        sub = f7_df.select("k", "c_text", "c_bigint", "c_bool", "c_ts")
        schema_str = "struct<k:int,c_text:string,c_bigint:bigint,c_bool:boolean,c_ts:timestamp>"
        rt = sub.select(
            F.from_json(F.to_json(F.struct(*sub.columns)), schema_str).alias("s")
        ).select("s.*")
        assert sorted(map(tuple, rt.collect())) == sorted(map(tuple, sub.collect()))

    def test_timeuuid_orders_by_shadow_not_string(self, f7_df):
        """timeuuid ordering follows embedded time (TimeUUIDType) — the
        string sorts differently, the shadow column sorts correctly."""
        by_shadow = [r["k"] for r in f7_df.orderBy("c_tuuid_ts").select("k").collect()]
        assert by_shadow == [2, 1]  # row 2's timestamp is earlier
        by_string = [r["k"] for r in f7_df.orderBy("c_tuuid").select("k").collect()]
        assert by_string == [1, 2]  # string order disagrees — why the shadow exists

    def test_blob_conversions(self, f7_df):
        from cassandra_pmem_spark.functions.blob import bigint_as_blob, blob_as_bigint

        got = f7_df.select(
            blob_as_bigint(bigint_as_blob("c_bigint")).alias("rt"), "c_bigint"
        ).collect()
        assert all(r["rt"] == r["c_bigint"] for r in got)

    def test_time_type_nanos_since_midnight(self, f7_df):
        got = f7_df.filter(F.col("k") == 1).select(
            (F.col("c_time") / 3_600_000_000_000).cast("int").alias("hours")
        ).collect()[0]["hours"]
        assert got == 1


# ---- F8: UDT / tuple structs ------------------------------------------------

F8_SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField(
            "a",
            T.StructType(
                [
                    T.StructField("street", T.StringType()),
                    T.StructField("city", T.StringType()),
                    T.StructField("zip", T.IntegerType()),
                ]
            ),
        ),
        T.StructField(
            "t",
            T.StructType(
                [
                    T.StructField("_1", T.IntegerType()),
                    T.StructField("_2", T.StringType()),
                    T.StructField("_3", T.DoubleType()),
                ]
            ),
        ),
    ]
)


@pytest.fixture(scope="module")
def f8_df(spark):
    rows = [
        (1, ("1 Main St", "Springfield", 12345), (1, "x", 0.5)),
        (2, ("2 Oak Ave", "Shelbyville", 54321), (1, "y", 0.25)),
        (3, (None, "Springfield", None), (2, "a", 9.0)),
    ]
    return spark.createDataFrame(rows, F8_SCHEMA)


class TestUdtTuple:
    def test_udt_field_selection(self, f8_df):
        from cassandra_pmem_spark.operators.collections import udt_field

        got = sorted(
            r["city"] for r in f8_df.select(udt_field("a", "city").alias("city")).collect()
        )
        assert got == ["Shelbyville", "Springfield", "Springfield"]

    def test_tuple_struct_lexicographic_comparison(self, f8_df):
        """frozen tuple comparison = lexicographic (TupleType.compare)."""
        lit = F.struct(F.lit(1).alias("_1"), F.lit("x").alias("_2"), F.lit(1.0).alias("_3"))
        got = sorted(r["k"] for r in f8_df.filter(F.col("t") > lit).select("k").collect())
        assert got == [2, 3]  # (1,'y',...) > (1,'x',1.0); (2,...) > (1,...)

    def test_tojson_nested_udt(self, f8_df):
        import json

        s = f8_df.filter(F.col("k") == 1).select(F.to_json(F.col("a")).alias("j")).collect()[0]["j"]
        assert json.loads(s) == {"street": "1 Main St", "city": "Springfield", "zip": 12345}

    def test_udt_in_where_clause(self, f8_df):
        got = f8_df.filter(F.col("a.city") == "Springfield").count()
        assert got == 2


class TestJsonlSource:
    def test_permissive_mode_quarantines_corrupt_lines(self, spark, tmp_path):
        """Dirty-corpus quarantine: malformed JSONL lines land in
        _corrupt_record instead of failing the read."""
        from cassandra_pmem_spark.sources.jsonl import read_jsonl

        p = tmp_path / "dirty"
        p.mkdir()
        (p / "part1.json").write_text(
            '{"doc_id": 1, "text": "good"}\n'
            "this is not json at all\n"
            '{"doc_id": 2, "text": "also good"}\n'
        )
        schema = T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
        )
        got = read_jsonl(spark, str(p), schema, permissive=True)
        rows = got.collect()
        good = [r for r in rows if r["_corrupt_record"] is None]
        bad = [r for r in rows if r["_corrupt_record"] is not None]
        assert {r["doc_id"] for r in good} == {1, 2}
        assert len(bad) == 1 and "not json" in bad[0]["_corrupt_record"]


class TestBlobConversionMatrix:
    """The full BytesConversionFcts pair set (round 4): every native
    type's reinterpret cast round-trips, and each serialized form matches
    the db/marshal wire bytes the Murmur3 marshal serializer pins."""

    def test_fixed_width_integer_roundtrips(self, spark):
        from cassandra_pmem_spark.functions import blob as B

        df = spark.createDataFrame(
            [(-(2**31), -300, -2, True), (2**31 - 1, 300, 7, False), (0, 0, 0, True)],
            "i int, s short, t tinyint, b boolean",
        )
        out = df.select(
            B.blob_as_int(B.int_as_blob("i")).alias("i2"),
            B.blob_as_smallint(B.smallint_as_blob("s")).alias("s2"),
            B.blob_as_tinyint(B.tinyint_as_blob("t")).alias("t2"),
            B.blob_as_boolean(B.boolean_as_blob("b")).alias("b2"),
            "i", "s", "t", "b",
        ).collect()
        for r in out:
            assert (r.i2, r.s2, r.t2, r.b2) == (r.i, r.s, r.t, r.b)

    def test_widths_match_marshal_serializer(self, spark):
        import struct

        from pyspark.sql import types as T

        from cassandra_pmem_spark.functions import blob as B
        from cassandra_pmem_spark.marshal import codec_of, marshal_of

        def pack(v, dt):
            return codec_of(marshal_of(None, dt, False)).pack(v)

        df = spark.createDataFrame([(-300, -2, 123456)], "s short, t tinyint, i int")
        r = df.select(
            B.smallint_as_blob("s").alias("sb"),
            B.tinyint_as_blob("t").alias("tb"),
            B.int_as_blob("i").alias("ib"),
        ).collect()[0]
        assert bytes(r.sb) == pack(-300, T.ShortType()) == struct.pack(">h", -300)
        assert bytes(r.tb) == pack(-2, T.ByteType())
        assert bytes(r.ib) == pack(123456, T.IntegerType())

    def test_temporal_roundtrips(self, spark):
        import datetime

        from cassandra_pmem_spark.functions import blob as B

        df = spark.createDataFrame(
            [
                (datetime.datetime(1997, 6, 15, 12, 30), datetime.date(1970, 1, 1)),
                (datetime.datetime(2038, 1, 19, 3, 14, 7), datetime.date(1969, 12, 31)),
            ],
            "ts timestamp, d date",
        )
        out = df.select(
            B.blob_as_timestamp(B.timestamp_as_blob("ts")).alias("ts2"),
            B.blob_as_date(B.date_as_blob("d")).alias("d2"),
            F.lower(F.hex(B.date_as_blob("d"))).alias("dhex"),
            "ts", "d",
        ).collect()
        for r in out:
            assert r.ts2 == r.ts and r.d2 == r.d
        # SimpleDateType pinning: epoch day -> 0x80000000
        assert out[0].dhex == "80000000"
        assert out[1].dhex == "7fffffff"

    def test_uuid_roundtrip(self, spark):
        from cassandra_pmem_spark.functions import blob as B

        u = "6ba7b810-9dad-11d1-80b4-00c04fd430c8"
        df = spark.createDataFrame([(u,)], "u string")
        r = df.select(
            B.blob_as_uuid(B.uuid_as_blob("u")).alias("u2"),
            F.octet_length(B.uuid_as_blob("u")).alias("n"),
        ).collect()[0]
        assert r.u2 == u and r.n == 16

    def test_float_double_bit_patterns(self, spark):
        import struct

        from cassandra_pmem_spark.functions import blob as B

        df = spark.createDataFrame([(1.5, -0.25), (-2e-5, 3.5)], "d double, f float")
        out = df.select(
            B.blob_as_double(B.double_as_blob("d")).alias("d2"),
            B.blob_as_float(B.float_as_blob("f")).alias("f2"),
            F.lower(F.hex(B.double_as_blob("d"))).alias("dh"),
            "d", "f",
        ).collect()
        for r in out:
            assert r.d2 == r.d and abs(r.f2 - r.f) < 1e-6
        assert out[0].dh == struct.pack(">d", 1.5).hex()

    def test_varint_roundtrip_and_minimality(self, spark):
        from decimal import Decimal

        from cassandra_pmem_spark.functions import blob as B

        vals = [Decimal(0), Decimal(-1), Decimal(255), Decimal(-256), Decimal(10**30)]
        df = spark.createDataFrame([(v,) for v in vals], "v decimal(38,0)")
        out = df.select(
            B.blob_as_varint(B.varint_as_blob("v")).alias("v2"),
            F.octet_length(B.varint_as_blob("v")).alias("n"),
            "v",
        ).collect()
        got = {r.v: (r.v2, r.n) for r in out}
        assert got[Decimal(0)] == (Decimal(0), 1)
        assert got[Decimal(-1)] == (Decimal(-1), 1)
        assert got[Decimal(255)] == (Decimal(255), 2)  # leading 0x00
        assert got[Decimal(-256)] == (Decimal(-256), 2)
        assert got[Decimal(10**30)][0] == Decimal(10**30)
