"""Bit-exactness tests for the Cassandra Murmur3 partitioner token.

Ground truth is murmur3_token_py — a direct port of
utils/MurmurHash.java:174 hash3_x64_128 + Murmur3Partitioner.java:244
normalize for 8-byte bigint keys. Both engine backends (the Spark Arrow
kernel, DuckDB HUGEINT SQL) must match it value-for-value, including
the reference's sign-extension quirk (negative-byte keys) and the
Long.MIN_VALUE normalization edge."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cassandra_pmem_spark.functions.murmur3 import (
    murmur3_token_py,
    murmur3_token_subquery,
    with_murmur3_token,
)

def _pack(v, cql=None, dtype=None) -> bytes:
    """One value packed by the marshal codec of its CQL type (or Spark
    shape), frozen as a partition-key component."""
    from cassandra_pmem_spark.marshal import codec_of, marshal_of

    return codec_of(marshal_of(cql, dtype, frozen=True)).pack(v)


def _pack_key(values, dtypes) -> bytes:
    from cassandra_pmem_spark.marshal import codec_of, marshal_of, pack_key

    return pack_key([codec_of(marshal_of(None, dt, True)) for dt in dtypes], values)


EDGE_KEYS = [0, 1, -1, 2, 127, 128, 255, 256, -128, -129, 42, 10**6, -(10**6),
             2**31 - 1, -(2**31), 2**62, 2**63 - 1, -(2**63), 7, -5]


def _duck_tokens(vals):
    con = duckdb.connect()
    lits = ",".join(f"(CAST('{v}' AS BIGINT))" for v in vals)
    sub = murmur3_token_subquery(f"(VALUES {lits}) v(k)", "k", ["k"])
    rows = con.execute(f"SELECT k, token FROM {sub}").fetchall()
    con.close()
    return dict(rows)


class TestMurmur3Token:
    def test_spark_matches_reference_port(self, spark):
        df = spark.createDataFrame([(v,) for v in EDGE_KEYS], "k bigint")
        got = {r.k: r.token for r in with_murmur3_token(df, "k").collect()}
        assert got == {v: murmur3_token_py(v) for v in EDGE_KEYS}

    def test_duckdb_oracle_matches_reference_port(self):
        assert _duck_tokens(EDGE_KEYS) == {v: murmur3_token_py(v) for v in EDGE_KEYS}

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=20, unique=True))
    def test_duckdb_matches_python_property(self, vals):
        assert _duck_tokens(vals) == {v: murmur3_token_py(v) for v in vals}

    def test_normalize_min_value(self):
        # normalize(Long.MIN_VALUE) == Long.MAX_VALUE: no key hashes to
        # MIN, so probe the normalize step through the python port's
        # contract instead — every token must exceed LONG_MIN
        assert all(murmur3_token_py(v) > -(2**63) for v in EDGE_KEYS)

    def test_ansi_session_matches_reference_port(self, spark):
        # Spark 4 defaults ANSI on (the bare session scripts/driver_gate.py
        # builds): the kernel's wrapping uint64 arithmetic must still match
        # the port with no overflow error
        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_column

        df = spark.createDataFrame([(v,) for v in EDGE_KEYS], "k bigint")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            out = df.select("k", murmur3_token_column("k").alias("t"))
            got = {r.k: r.t for r in out.collect()}
        finally:
            spark.conf.set("spark.sql.ansi.enabled", "false")
        assert got == {v: murmur3_token_py(v) for v in EDGE_KEYS}

    def test_where_token_uses_murmur3_for_bigint_pk(self, spark):
        from cassandra_pmem_spark.cql.table import cql_table
        from tests.conftest import SF_SMALL

        t = cql_table(spark, "customer", SF_SMALL)
        rows = (
            t.where_token(">", 0).df().select("c_custkey").limit(5).collect()
        )
        keys = [r.c_custkey for r in rows]
        assert keys and all(murmur3_token_py(k) > 0 for k in keys)


class TestMurmur3GeneralLength:
    """General-length kernel (arbitrary serialized keys) + the per-layout
    DuckDB twins: text single-column and composite (bigint, bigint) keys.
    Ground truth is murmur3_token_bytes_py, the direct port of the
    general-length reference loop (utils/MurmurHash.java:174-252)."""

    def _np_tokens(self, keys):
        import numpy as np

        from cassandra_pmem_spark.functions.murmur3 import _murmur3_bytes_np

        lens = np.array([len(k) for k in keys], dtype=np.int64)
        lmax = max(1, int(lens.max()) if len(keys) else 1)
        B = np.zeros((len(keys), lmax), dtype=np.uint8)
        for r, k in enumerate(keys):
            if k:
                B[r, : len(k)] = np.frombuffer(k, dtype=np.uint8)
        with __import__("numpy").errstate(over="ignore"):
            return list(_murmur3_bytes_np(B, lens))

    def test_bytes_port_matches_bigint_port_on_8_byte_keys(self):
        import struct

        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_bytes_py

        for v in EDGE_KEYS:
            assert murmur3_token_bytes_py(struct.pack(">q", v)) == murmur3_token_py(v)

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.binary(min_size=0, max_size=48), min_size=1, max_size=16))
    def test_vectorized_kernel_matches_port_property(self, keys):
        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_bytes_py

        assert self._np_tokens(keys) == [murmur3_token_bytes_py(k) for k in keys]

    def test_composite_serialization_layout(self):
        # CompositeType.java: <len:short be><value><eoc:0x00> per component
        import struct

        from pyspark.sql import types as T

        got = _pack_key((1, "ab"), [T.LongType(), T.StringType()])
        assert got == b"\x00\x08" + struct.pack(">q", 1) + b"\x00" + b"\x00\x02ab\x00"

    def test_text_twin_matches_port(self):
        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
            murmur3_token_general_subquery,
            text_key_byte_exprs,
        )

        names = ["ALGERIA", "UNITED KINGDOM", "", "a", "MOZAMBIQUE", "0123456789abcde"]
        con = duckdb.connect()
        lits = ",".join(f"('{n}')" for n in names)
        exprs, len_expr = text_key_byte_exprs("name", 15)
        sub = murmur3_token_general_subquery(f"(VALUES {lits}) v(name)", exprs, len_expr, ["name"])
        got = dict(con.execute(f"SELECT name, token FROM {sub}").fetchall())
        con.close()
        assert got == {n: murmur3_token_bytes_py(n.encode()) for n in names}

    def test_composite_twin_matches_port(self):
        from pyspark.sql import types as T

        from cassandra_pmem_spark.functions.murmur3 import (
            bigint_pair_composite_byte_exprs,
            murmur3_token_bytes_py,
            murmur3_token_general_subquery,
        )

        pairs = [(1, 2), (-5, 9999999), (0, 0), (-(2**63), 2**63 - 1), (255, -256)]
        con = duckdb.connect()
        lits = ",".join(f"((-9223372036854775807 - 1)::BIGINT, {b}::BIGINT)" if a == -(2**63)
                        else f"({a}::BIGINT, {b}::BIGINT)" for a, b in pairs)
        exprs, flen = bigint_pair_composite_byte_exprs("a", "b")
        sub = murmur3_token_general_subquery(
            f"(VALUES {lits}) v(a, b)", exprs, str(flen), ["a", "b"], fixed_len=flen
        )
        rows = con.execute(f"SELECT a, b, token FROM {sub}").fetchall()
        con.close()
        two = [T.LongType(), T.LongType()]
        assert {(a, b): t for a, b, t in rows} == {
            (a, b): murmur3_token_bytes_py(_pack_key((a, b), two))
            for a, b in pairs
        }

    def test_spark_token_routes_text_and_composite_to_murmur3(self, spark):
        from pyspark.sql import types as T

        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_bytes_py
        from cassandra_pmem_spark.functions.token import token_column

        df = spark.createDataFrame(
            [(1, "x"), (-7, "hello"), (2**40, "UNITED KINGDOM")], "k bigint, s string"
        )
        schema = df.schema
        out = df.select(
            "k", "s",
            token_column(["s"], schema).alias("t_text"),
            token_column(["k", "s"], schema).alias("t_comp"),
        ).collect()
        for r in out:
            assert r.t_text == murmur3_token_bytes_py(r.s.encode())
            assert r.t_comp == murmur3_token_bytes_py(
                _pack_key((r.k, r.s), [T.LongType(), T.StringType()])
            )


class TestMarshalSerializations:
    """db/marshal/* partition-key serializations added in round 4
    (Murmur3Partitioner hashes these bytes; each layout is pinned here
    against the reference serializer's documented wire form)."""

    def _ser(self, v, dt):
        return _pack(v, dtype=dt)

    def test_fixed_width_numerics(self):
        import struct

        from pyspark.sql import types as T

        assert self._ser(-2, T.ShortType()) == struct.pack(">h", -2)
        assert self._ser(7, T.ByteType()) == b"\x07"
        assert self._ser(1.5, T.DoubleType()) == struct.pack(">d", 1.5)
        assert self._ser(-0.25, T.FloatType()) == struct.pack(">f", -0.25)
        assert self._ser(True, T.BooleanType()) == b"\x01"
        assert self._ser(False, T.BooleanType()) == b"\x00"

    def test_date_unsigned_epoch_center(self):
        # SimpleDateType.java: day 0 = 0x80000000, day -1 = 0x7FFFFFFF
        import datetime

        from pyspark.sql import types as T

        epoch = datetime.date(1970, 1, 1)
        assert self._ser(epoch, T.DateType()) == b"\x80\x00\x00\x00"
        assert self._ser(epoch - datetime.timedelta(days=1), T.DateType()) == b"\x7f\xff\xff\xff"
        assert self._ser(epoch + datetime.timedelta(days=2), T.DateType()) == b"\x80\x00\x00\x02"

    def test_varint_minimal_twos_complement(self):
        # IntegerType.java == BigInteger.toByteArray(): minimal bytes
        from decimal import Decimal

        from pyspark.sql import types as T

        varint = T.DecimalType(38, 0)
        assert self._ser(Decimal(0), varint) == b"\x00"
        assert self._ser(Decimal(-1), varint) == b"\xff"
        assert self._ser(Decimal(255), varint) == b"\x00\xff"
        assert self._ser(Decimal(-256), varint) == b"\xff\x00"

    def test_decimal_scale_prefix(self):
        # DecimalType.java: int scale + unscaled varint ("1.25" = scale 2,
        # unscaled 125)
        from decimal import Decimal

        from pyspark.sql import types as T

        got = self._ser(Decimal("1.25"), T.DecimalType(38, 18))
        assert got == b"\x00\x00\x00\x02" + b"\x7d"

    def test_blob_verbatim(self):
        from pyspark.sql import types as T

        assert self._ser(b"\x00\xff\x10", T.BinaryType()) == b"\x00\xff\x10"

    def test_timestamp_epoch_millis(self):
        import struct

        import pandas as pd
        from pyspark.sql import types as T

        ts = pd.Timestamp("1970-01-01 00:00:01")
        assert self._ser(ts, T.TimestampType()) == struct.pack(">q", 1000)

    def test_double_key_token_matches_bytes_port(self, spark):
        # a double partition key routes through the general kernel over
        # the IEEE-754 big-endian bytes — pin Spark against the scalar port
        import struct

        from pyspark.sql import types as T

        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_bytes_py
        from cassandra_pmem_spark.functions.token import token_column

        vals = [0.0, -1.5, 3.141592653589793, 1e300, -2e-5]
        df = spark.createDataFrame([(v,) for v in vals], "value double")
        tok = token_column(["value"], T.StructType([T.StructField("value", T.DoubleType())]))
        got = {r.value: r.token for r in df.withColumn("token", tok).collect()}
        want = {v: murmur3_token_bytes_py(struct.pack(">d", v)) for v in vals}
        assert got == want

    def test_timestamp_key_token_matches_bytes_port(self, spark):
        # unix_millis pre-conversion -> fixed-8 long kernel; compare against
        # hashing the epoch-millis int64 bytes directly
        import struct

        from pyspark.sql import types as T

        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_bytes_py
        from cassandra_pmem_spark.functions.token import token_column

        import datetime

        rows = [
            (1, datetime.datetime(1970, 1, 1, 0, 0, 1)),
            (2, datetime.datetime(1997, 6, 15, 12, 30, 0)),
            (3, datetime.datetime(2038, 1, 19, 3, 14, 7)),
        ]
        df = spark.createDataFrame(rows, "id long, ts timestamp")
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("ts", T.TimestampType())]
        )
        got = {
            r.id: r.token
            for r in df.withColumn("token", token_column(["ts"], schema)).collect()
        }
        ms = {1: 1000, 2: 866377800000, 3: 2147483647000}
        want = {i: murmur3_token_bytes_py(struct.pack(">q", m)) for i, m in ms.items()}
        assert got == want

    @given(
        n=st.integers(min_value=-(10**30), max_value=10**30),
    )
    @settings(max_examples=200, deadline=None)
    def test_varint_roundtrip_property(self, n):
        # minimal two's-complement must decode back to the integer and
        # never carry a redundant leading byte (BigInteger.toByteArray())
        from decimal import Decimal

        from pyspark.sql import types as T

        b = _pack(Decimal(n), dtype=T.DecimalType(38, 0))
        assert int.from_bytes(b, "big", signed=True) == n
        if len(b) > 1:
            # minimality: dropping the first byte must change the value
            assert int.from_bytes(b[1:], "big", signed=True) != n

    @given(v=st.floats(allow_nan=False, width=64))
    @settings(max_examples=200, deadline=None)
    def test_double_serialization_roundtrip_property(self, v):
        import struct

        from pyspark.sql import types as T

        b = _pack(v, dtype=T.DoubleType())
        assert len(b) == 8 and struct.unpack(">d", b)[0] == v


class TestMurmur3UuidInet:
    """uuid / timeuuid / inet partition-key tokens: wire forms per
    db/marshal/UUIDType.java, TimeUUIDType.java (16 bytes msb||lsb
    big-endian) and InetAddressType.java (raw address bytes); tokens via
    the general-length kernel. Ground truth: murmur3_token_bytes_py over
    the serialized form."""

    UUIDS = [
        "00000000-0000-0000-0000-000000000000",
        "ffffffff-ffff-ffff-ffff-ffffffffffff",
        "6ba7b810-9dad-11d1-80b4-00c04fd430c8",  # the RFC 4122 DNS namespace
        "123e4567-e89b-12d3-a456-426614174000",
        "deadbeef-cafe-1bad-8000-0123456789ab",
    ]
    IPS = ["0.0.0.0", "255.255.255.255", "10.1.2.3", "192.168.0.1", "127.0.0.1"]

    def test_uuid_serialization_is_msb_lsb_big_endian(self):
        import uuid as uuid_lib

        for s in self.UUIDS:
            b = _pack(s, "uuid")
            assert b == bytes.fromhex(s.replace("-", "")) == uuid_lib.UUID(s).bytes
            assert len(b) == 16

    def test_inet_serialization(self):
        assert _pack("10.1.2.3", "inet") == bytes([10, 1, 2, 3])
        # InetAddressType.java stores getAddress() bytes: 16 for IPv6
        assert len(_pack("2001:db8::1", "inet")) == 16

    def test_uuid_twin_matches_port(self):
        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
            murmur3_token_general_subquery,
            uuid_key_byte_exprs,
        )

        con = duckdb.connect()
        lits = ",".join(f"('{u}')" for u in self.UUIDS)
        exprs, flen = uuid_key_byte_exprs("u")
        sub = murmur3_token_general_subquery(
            f"(VALUES {lits}) v(u)", exprs, str(flen), ["u"], fixed_len=flen
        )
        got = dict(con.execute(f"SELECT u, token FROM {sub}").fetchall())
        con.close()
        assert got == {
            u: murmur3_token_bytes_py(bytes.fromhex(u.replace("-", "")))
            for u in self.UUIDS
        }

    def test_inet4_twin_matches_port(self):
        from cassandra_pmem_spark.functions.murmur3 import (
            inet4_key_byte_exprs,
            murmur3_token_bytes_py,
            murmur3_token_general_subquery,
        )

        con = duckdb.connect()
        lits = ",".join(f"('{ip}')" for ip in self.IPS)
        exprs, flen = inet4_key_byte_exprs("ip")
        sub = murmur3_token_general_subquery(
            f"(VALUES {lits}) v(ip)", exprs, str(flen), ["ip"], fixed_len=flen
        )
        got = dict(con.execute(f"SELECT ip, token FROM {sub}").fetchall())
        con.close()
        assert got == {
            ip: murmur3_token_bytes_py(bytes(int(o) for o in ip.split(".")))
            for ip in self.IPS
        }

    def test_spark_token_routes_uuid_timeuuid_inet_to_murmur3(self, spark):
        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_bytes_py
        from cassandra_pmem_spark.functions.token import token_column

        rows = [(u, ip) for u, ip in zip(self.UUIDS, self.IPS)]
        df = spark.createDataFrame(rows, "u string, ip string")
        out = df.select(
            "u",
            "ip",
            token_column(["u"], cql_types={"u": "uuid"}).alias("tu"),
            token_column(["u"], cql_types={"u": "timeuuid"}).alias("ttu"),
            token_column(["ip"], cql_types={"ip": "inet"}).alias("tip"),
        ).collect()
        for r in out:
            want_u = murmur3_token_bytes_py(bytes.fromhex(r.u.replace("-", "")))
            assert r.tu == want_u
            # timeuuid shares the uuid wire form — token-identical
            assert r.ttu == want_u
            assert r.tip == murmur3_token_bytes_py(
                bytes(int(o) for o in r.ip.split("."))
            )


class TestMurmur3Frozen:
    """Frozen collection / UDT partition keys (legal when frozen —
    CreateTableStatement.java:179, FrozenCollectionsTest.java:55,186).
    Wire forms: CollectionSerializer.pack (int32 count + int32-length-
    prefixed elements; sets/maps comparator-sorted) and TupleType.buildValue
    (length-prefixed fields, no count, null = -1)."""

    def test_frozen_list_pack_layout(self):
        import struct

        from pyspark.sql import types as T

        got = _pack([5, -16], dtype=T.ArrayType(T.LongType()))
        want = (
            struct.pack(">i", 2)
            + struct.pack(">i", 8) + struct.pack(">q", 5)
            + struct.pack(">i", 8) + struct.pack(">q", -16)
        )
        assert got == want

    def test_frozen_set_sorts_by_element_comparator(self):
        import struct

        from pyspark.sql import types as T

        # int family: SIGNED value order (Int32Type.java:45-53 compares the
        # first byte signed) — -3 sorts before 90 despite 0xFD > 0x5A
        got = _pack([90, -3], "frozen<set<int>>")
        want = (
            struct.pack(">i", 2)
            + struct.pack(">i", 4) + struct.pack(">i", -3)
            + struct.pack(">i", 4) + struct.pack(">i", 90)
        )
        assert got == want
        # text: unsigned byte order of the utf8 serialization
        got = _pack(["b", "a"], "frozen<set<text>>")
        want = (
            struct.pack(">i", 2)
            + struct.pack(">i", 1) + b"a"
            + struct.pack(">i", 1) + b"b"
        )
        assert got == want

    def test_frozen_set_double_sorts_by_value_not_bytes(self):
        import math
        import struct

        from pyspark.sql import types as T

        # DoubleType.compareCustom is compose().compareTo()
        # (DoubleType.java:48-54): VALUE order. -1.25 (sign bit set,
        # byte-greatest) must pack FIRST; NaN sorts greatest and
        # -0.0 < 0.0 (Java Double.compare semantics).
        vals = [3.5, float("nan"), -1.25, 0.0, -0.0]
        got = _pack(vals, "frozen<set<double>>")
        order = [-1.25, -0.0, 0.0, 3.5, float("nan")]
        want = struct.pack(">i", 5) + b"".join(
            struct.pack(">i", 8) + struct.pack(">d", v) for v in order
        )
        assert got == want
        # the -0.0 slot really is the negative zero bit pattern
        assert struct.pack(">d", order[1])[0] == 0x80
        assert math.isnan(struct.unpack(">d", want[-8:])[0])

    def test_frozen_set_varint_and_decimal_sort_by_value(self):
        import struct
        from decimal import Decimal

        from pyspark.sql import types as T

        # varint (IntegerType.java:70-73 compareIntegers): signed value
        # order across DIFFERENT serialized lengths — byte order would put
        # 255 (0x00FF) before 1 (0x01) and negatives (0xFF…) last
        got = _pack(
            [Decimal(255), Decimal(-300), Decimal(1)], "frozen<set<varint>>"
        )
        parts = [b"\xfe\xd4", b"\x01", b"\x00\xff"]  # -300, 1, 255
        want = struct.pack(">i", 3) + b"".join(
            struct.pack(">i", len(p)) + p for p in parts
        )
        assert got == want
        # decimal (DecimalType.java:51-57 BigDecimal.compareTo): numeric
        # value, scale-independent — 2.50 < 10 even though its unscaled
        # varint (250) is byte-greater
        got = _pack([Decimal("10"), Decimal("2.50")], "frozen<set<decimal>>")

        def dec_ser(scale: int, unscaled: bytes) -> bytes:
            return struct.pack(">i", scale) + unscaled

        # serialization keeps each VALUE's own scale (2.50 → scale 2,
        # unscaled 250 with the BigInteger leading-zero byte; 10 → scale 0)
        parts = [dec_ser(2, b"\x00\xfa"), dec_ser(0, b"\x0a")]
        want = struct.pack(">i", 2) + b"".join(
            struct.pack(">i", len(p)) + p for p in parts
        )
        assert got == want

    def test_frozen_map_double_keys_sort_by_value(self):
        import struct

        from pyspark.sql import types as T

        got = _pack({4.0: 11, -8.0: 7}, dtype=T.MapType(T.DoubleType(), T.LongType()))
        want = (
            struct.pack(">i", 2)
            + struct.pack(">i", 8) + struct.pack(">d", -8.0)
            + struct.pack(">i", 8) + struct.pack(">q", 7)
            + struct.pack(">i", 8) + struct.pack(">d", 4.0)
            + struct.pack(">i", 8) + struct.pack(">q", 11)
        )
        assert got == want

    def test_frozen_map_sorts_entries_by_key(self):
        import struct

        from pyspark.sql import types as T

        got = _pack({7: 49, -2: 10}, dtype=T.MapType(T.IntegerType(), T.LongType()))
        want = (
            struct.pack(">i", 2)
            + struct.pack(">i", 4) + struct.pack(">i", -2)
            + struct.pack(">i", 8) + struct.pack(">q", 10)
            + struct.pack(">i", 4) + struct.pack(">i", 7)
            + struct.pack(">i", 8) + struct.pack(">q", 49)
        )
        assert got == want

    def test_frozen_udt_null_field_is_minus_one(self):
        import struct

        from pyspark.sql import types as T

        got = _pack((11, None), "frozen<tuple<bigint, int>>")
        want = struct.pack(">i", 8) + struct.pack(">q", 11) + struct.pack(">i", -1)
        assert got == want

    def test_spark_routes_frozen_keys_to_murmur3(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_bytes_py
        from cassandra_pmem_spark.functions.token import token_column

        df = spark.range(1, 12).select(
            F.col("id").alias("k"),
            F.array(F.col("id") - 5, F.col("id") * 3).alias("fl"),
            F.array(
                (F.lit(100) + F.col("id")).cast("int"),
                (F.col("id") - 5).cast("int"),
            ).alias("fs"),
            F.create_map((F.col("id") % 4).cast("int"), F.col("id") * 7).alias("fm"),
            F.struct(
                F.col("id").alias("a"), (F.col("id") % 3 - 1).cast("int").alias("b")
            ).alias("fu"),
        )
        out = (
            df.withColumn("t_list", token_column(["fl"], df.schema))
            .withColumn(
                "t_set",
                token_column(["fs"], df.schema, cql_types={"fs": "frozen<set<int>>"}),
            )
            .withColumn("t_map", token_column(["fm"], df.schema))
            .withColumn("t_udt", token_column(["fu"], df.schema))
            .collect()
        )
        st = T.StructType(
            [T.StructField("a", T.LongType()), T.StructField("b", T.IntegerType())]
        )
        for r in out:
            assert r.t_list == murmur3_token_bytes_py(
                _pack(r.fl, dtype=T.ArrayType(T.LongType()))
            )
            assert r.t_set == murmur3_token_bytes_py(
                _pack(r.fs, "frozen<set<int>>")
            )
            assert r.t_map == murmur3_token_bytes_py(
                _pack(r.fm, dtype=T.MapType(T.IntegerType(), T.LongType()))
            )
            assert r.t_udt == murmur3_token_bytes_py(
                _pack(tuple(r.fu), dtype=st)
            )

    def test_timestamp_element_outside_ns_range(self, spark):
        """Nested timestamps beyond pandas' datetime64[ns] span (years
        1677..2262) must still hash bit-exactly — timestamp_millis derives the
        millis with datetime arithmetic, so year-1600 and year-2500
        elements neither crash nor fall back (Cassandra timestamps
        cover years 1..9999)."""
        import datetime as dt
        import struct

        from pyspark.sql import types as T

        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )
        from cassandra_pmem_spark.functions.token import token_column

        schema = T.StructType(
            [T.StructField("ft", T.ArrayType(T.TimestampType()))]
        )
        vals = [dt.datetime(2500, 1, 1, 12), dt.datetime(1600, 6, 15)]
        df = spark.createDataFrame([([v],) for v in vals], schema)
        got = {
            r.t for r in
            df.withColumn("t", token_column(["ft"], df.schema)).collect()
        }
        epoch = dt.datetime(1970, 1, 1)
        want = set()
        for v in vals:
            ms = int((v - epoch).total_seconds() * 1000)
            want.add(murmur3_token_bytes_py(
                struct.pack(">i", 1) + struct.pack(">i", 8)
                + struct.pack(">q", ms)
            ))
        assert got == want

    def test_timestamp_element_tz_gate(self, spark):
        # nested timestamps are exact only when Arrow delivers them
        # naive-UTC, i.e. under a UTC session timezone (which this
        # engine pins). Under any other tz the transfer shifts the
        # instant, so the key must take the type-blind xxhash64 path —
        # not a wrong murmur3
        from pyspark.sql import functions as F

        from cassandra_pmem_spark.functions.token import token_column

        df = spark.range(1, 4).select(
            F.array(F.current_timestamp()).alias("ft"), F.col("id")
        )
        old = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            expr = token_column(["ft"], df.schema)
            assert "xxhash64" in str(expr).lower()
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
        expr = token_column(["ft"], df.schema)
        assert "xxhash64" not in str(expr).lower()

    def test_timestamp_elements_bit_exact_under_utc(self, spark):
        """Frozen list/set/UDT with TIMESTAMP leaves under the pinned
        UTC session: tokens must equal the Murmur3 of the reference
        serialization built from the KNOWN epoch millis (independent of
        the Arrow transfer), with pre-1970 set elements sorting by
        VALUE (TimestampType.java compares the longs)."""
        import struct

        from pyspark.sql import functions as F

        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )
        from cassandra_pmem_spark.functions.token import token_column

        k = F.col("id")
        df = spark.range(1, 12).select(
            "id",
            F.array(
                F.timestamp_millis(k * 1000003 - 200_000_000_000)
            ).alias("ft"),
            # positive-first: the set serializer must re-sort by value
            F.array(
                F.timestamp_millis(k * 777),
                F.timestamp_millis(k * -999983),
            ).alias("fst"),
            F.struct(
                F.timestamp_millis(k * 86_400_000).alias("t"),
                k.cast("int").alias("n"),
            ).alias("fu"),
        )
        out = (
            df.withColumn("t_list", token_column(["ft"], df.schema))
            .withColumn(
                "t_set",
                token_column(
                    ["fst"], df.schema, cql_types={"fst": "frozen<set<timestamp>>"}
                ),
            )
            .withColumn("t_udt", token_column(["fu"], df.schema))
            .collect()
        )

        def pack(ms_list):
            return struct.pack(">i", len(ms_list)) + b"".join(
                struct.pack(">i", 8) + struct.pack(">q", ms)
                for ms in ms_list
            )

        for r in out:
            i = r.id
            assert r.t_list == murmur3_token_bytes_py(
                pack([i * 1000003 - 200_000_000_000])
            )
            # value order: the negative (pre-1970) element packs first
            assert r.t_set == murmur3_token_bytes_py(
                pack(sorted([i * 777, i * -999983]))
            )
            assert r.t_udt == murmur3_token_bytes_py(
                struct.pack(">i", 8) + struct.pack(">q", i * 86_400_000)
                + struct.pack(">i", 4) + struct.pack(">i", i)
            )

    def test_frozen_twin_matches_port(self):
        import duckdb

        from pyspark.sql import types as T

        from cassandra_pmem_spark.functions.murmur3 import (
            fixed_layout_byte_exprs,
            murmur3_token_bytes_py,
            murmur3_token_general_subquery,
        )

        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT range AS k FROM range(1, 30)")
        parts = (
            [("const", b) for b in (0, 0, 0, 2)]
            + [("const", b) for b in (0, 0, 0, 8)] + [("be", "k - 15", 8)]
            + [("const", b) for b in (0, 0, 0, 8)] + [("be", "k * 3", 8)]
        )
        exprs, flen = fixed_layout_byte_exprs(parts)
        sub = murmur3_token_general_subquery(
            "t", exprs, str(flen), ["k"], "tok", fixed_len=flen
        )
        got = dict(con.execute(f"SELECT k, tok FROM {sub}").fetchall())
        con.close()
        for k in range(1, 30):
            want = murmur3_token_bytes_py(
                _pack([k - 15, k * 3], dtype=T.ArrayType(T.LongType()))
            )
            assert got[k] == want
